"""Checkpointed lineage + exact resume (pdf_parser_spark.lineage).

Scenario: a run crashes after finishing half its buckets. We simulate the
crash state by running everything, then deleting the lineage rows AND the
output partitions of half the buckets (a bucket whose outputs were written
but whose lineage append didn't land is also covered: its partitions get
rewritten by the dynamic overwrite). Resume must redo exactly the missing
buckets and converge to the single-shot result.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from pdf_parser_spark import corpus, lineage, oracle, vendor_detect
from pdf_parser_spark.configs import VENDOR_CONFIGS

N_DOCS = 120
N_BUCKETS = 8


@pytest.fixture(scope="module")
def docs_df(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpus") / "docs.parquet")
    corpus.write_corpus_parquet(path, N_DOCS)
    return spark.read.parquet(path)


def _rows(spark, root, name):
    return sorted(
        map(tuple, lineage.read_output(spark, root, name).collect())
    )


def _persisted_rdd_ids(spark) -> set:
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}


def test_single_shot_then_noop_resume(spark, docs_df, tmp_path):
    root = str(tmp_path / "out")
    s1 = lineage.run_with_lineage(spark, docs_df, root, "job1", N_BUCKETS)
    assert s1["buckets_run"] > 0 and s1["buckets_skipped"] == 0

    # lineage covers every bucket that had docs; metrics sum to the corpus
    lin = spark.read.parquet(lineage.lineage_path(root))
    assert lin.where(F.col("status") != "COMPLETED").count() == 0
    n_spans = lineage.read_output(spark, root, "extracted_spans").count()
    assert lin.agg(F.sum("n_spans")).first()[0] == n_spans

    # all-complete resume is a no-op
    s2 = lineage.run_with_lineage(spark, docs_df, root, "job2", N_BUCKETS)
    assert s2["buckets_run"] == 0
    assert s2["buckets_skipped"] == s1["buckets_run"]



def test_run_leaves_session_overwrite_mode_untouched(spark, docs_df, tmp_path, monkeypatch):
    """No session-global side effects: a run sets and unsets no session
    conf (dynamic partition overwrite is scoped to each write), so it
    cannot change what other queries on the session see."""
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
        lineage.run_with_lineage(spark, docs_df, str(tmp_path / "out"), "job_c", N_BUCKETS)
        monkeypatch.undo()
        assert calls == []
        assert spark.conf.get(key) == "STATIC"
    finally:
        spark.conf.unset(key)


def test_lineage_job_never_plans_master_log(spark, docs_df, tmp_path, monkeypatch):
    """master_log is derived on read, so a lineage job must not build it."""
    from pdf_parser_spark.extraction import reports

    calls = []
    real = reports.master_log_frame

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(reports, "master_log_frame", spy)
    s = lineage.run_with_lineage(spark, docs_df, str(tmp_path / "out"), "job_m", N_BUCKETS)
    assert s["buckets_run"] > 0
    assert calls == []


def test_crash_resume_equals_single_shot(spark, docs_df, tmp_path):
    ref_root = str(tmp_path / "ref")
    lineage.run_with_lineage(spark, docs_df, ref_root, "ref", N_BUCKETS)
    expected = {n: _rows(spark, ref_root, n) for n in lineage.OUTPUT_TABLES}

    crash_root = str(tmp_path / "crash")
    lineage.run_with_lineage(spark, docs_df, crash_root, "run1", N_BUCKETS)

    # Simulate crash: forget lineage + outputs for buckets >= half.
    lin_path = lineage.lineage_path(crash_root)
    lin = spark.read.parquet(lin_path).where(F.col("bucket") < N_BUCKETS // 2)
    kept = lin.collect()
    shutil.rmtree(lin_path)
    spark.createDataFrame(kept, schema=lineage._LINEAGE_SCHEMA).write.parquet(lin_path)
    for name in lineage.INCREMENTAL_TABLES:
        for part in Path(crash_root, name).glob("bucket=*"):
            if int(part.name.split("=")[1]) >= N_BUCKETS // 2:
                shutil.rmtree(part)

    s = lineage.run_with_lineage(spark, docs_df, crash_root, "resume", N_BUCKETS)
    assert s["buckets_skipped"] == N_BUCKETS // 2
    assert s["buckets_run"] > 0

    for name in lineage.OUTPUT_TABLES:
        assert _rows(spark, crash_root, name) == expected[name], name


def test_resume_admission_skips_completed_docs(spark, docs_df, tmp_path, monkeypatch):
    """Resume must NOT re-run the corpus-global admission window over the
    whole input: the anti-join against completed buckets' doc_meta shrinks
    the admission input to the un-finished remainder."""
    root = str(tmp_path / "resume_cheap")
    lineage.run_with_lineage(spark, docs_df, root, "run1", N_BUCKETS)

    # Crash shape: forget lineage for half the buckets (outputs intact).
    lin_path = lineage.lineage_path(root)
    kept = spark.read.parquet(lin_path).where(F.col("bucket") < N_BUCKETS // 2).collect()
    shutil.rmtree(lin_path)
    spark.createDataFrame(kept, schema=lineage._LINEAGE_SCHEMA).write.parquet(lin_path)

    seen = {}
    real_admitted = lineage.admitted_pages

    def spy(docs, **kwargs):
        seen["n_input"] = docs.count()
        return real_admitted(docs, **kwargs)

    monkeypatch.setattr(lineage, "admitted_pages", spy)
    expected = {n: _rows(spark, root, n) for n in lineage.OUTPUT_TABLES}
    s = lineage.run_with_lineage(spark, docs_df, root, "resume", N_BUCKETS)
    assert s["buckets_skipped"] == N_BUCKETS // 2
    total = docs_df.count()
    assert 0 < seen["n_input"] < total  # admission saw only the remainder
    for name in lineage.OUTPUT_TABLES:
        assert _rows(spark, root, name) == expected[name], name


def test_partial_write_without_lineage_is_rewritten(spark, docs_df, tmp_path):
    """A bucket whose output landed but whose lineage row didn't must be
    redone (and the overwrite must not duplicate its rows)."""
    root = str(tmp_path / "partial")
    lineage.run_with_lineage(spark, docs_df, root, "run1", N_BUCKETS)
    expected = {n: _rows(spark, root, n) for n in lineage.OUTPUT_TABLES}

    # Drop ONLY the lineage rows of two buckets; leave their outputs intact.
    lin_path = lineage.lineage_path(root)
    kept = spark.read.parquet(lin_path).where(F.col("bucket") >= 2).collect()
    shutil.rmtree(lin_path)
    spark.createDataFrame(kept, schema=lineage._LINEAGE_SCHEMA).write.parquet(lin_path)

    s = lineage.run_with_lineage(spark, docs_df, root, "resume", N_BUCKETS)
    assert s["buckets_run"] >= 1
    for name in lineage.OUTPUT_TABLES:
        assert _rows(spark, root, name) == expected[name], name


def test_no_stranded_persists_after_run_and_report_read(spark, docs_df, tmp_path):
    """Unpersist discipline: a lineage run cleans up the one frame it
    persists (the slim winner set), and a master_log
    read hands its one load-bearing persisted handle (reports.global_seq)
    to the caller via ``track`` for release — so a long-lived session
    (streaming reader, repeated reports) strands nothing in the cache.

    Compared by RDD-id SET, not count: other tests in the shared session
    leave GC-owned cache entries that the ContextCleaner removes at an arbitrary
    later moment, so an absolute count can legitimately DROP while this
    test runs. RDD ids are never reused, so "no new ids remain" is the
    exact stranding property regardless of concurrent cleanup."""
    root = str(tmp_path / "out_persist")
    before = _persisted_rdd_ids(spark)
    lineage.run_with_lineage(spark, docs_df, root, "job_p", N_BUCKETS)
    # the run released everything it pinned
    assert _persisted_rdd_ids(spark) - before == set()

    track: list = []
    log = lineage.read_output(spark, root, "master_log", track=track)
    assert log.count() > 0
    assert len(track) == 1  # exactly the global_seq handle
    for f in track:
        f.unpersist()
    assert _persisted_rdd_ids(spark) - before == set()


def test_failed_write_strands_no_cache(spark, docs_df, tmp_path, monkeypatch):
    """A job whose write raises still releases every frame it persisted:
    a stream retries a failed micro-batch in the same session, and each
    retry must not strand another set of cached frames. Compared by RDD-id
    set, as in the test above."""
    real_write = lineage.sink.write_partitioned

    def failing_write(df, root, name, partition_col):
        if name == "extracted":
            raise RuntimeError("injected write failure")
        return real_write(df, root, name, partition_col)

    monkeypatch.setattr(lineage.sink, "write_partitioned", failing_write)
    before = _persisted_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="injected"):
        lineage.run_with_lineage(spark, docs_df, str(tmp_path / "out"), "job_f", N_BUCKETS)
    assert _persisted_rdd_ids(spark) - before == set()


def test_lineage_rows_need_no_local_frame(spark, docs_df, tmp_path, monkeypatch):
    """The lineage rows derive from the job's persisted frames: no
    driver-side list becomes a DataFrame (that would start a Python worker
    daemon just to ship a few bucket numbers)."""
    calls = []
    real = type(spark).createDataFrame

    def spy(self, *args, **kwargs):
        calls.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(type(spark), "createDataFrame", spy)
    s = lineage.run_with_lineage(spark, docs_df, str(tmp_path / "out"), "job_l", N_BUCKETS)
    assert s["buckets_run"] > 0
    assert calls == []


def test_one_file_per_bucket_per_table(spark, docs_df, tmp_path):
    root = tmp_path / "out"
    s = lineage.run_with_lineage(spark, docs_df, str(root), "job_f1", N_BUCKETS)
    for name in lineage.INCREMENTAL_TABLES:
        parts = sorted((root / name).glob("bucket=*"))
        assert len(parts) == s["buckets_run"], name
        for part in parts:
            assert len(list(part.glob("part-*.parquet"))) == 1, part


def test_lineage_metrics_match_written_outputs(spark, docs_df, tmp_path):
    """Every lineage row's metrics equal the ones recomputed per bucket
    from the written extracted_spans and extracted tables."""
    root = str(tmp_path / "out")
    s = lineage.run_with_lineage(spark, docs_df, root, "job_mm", N_BUCKETS)
    spans = lineage.sink.read(spark, root, "extracted_spans")
    per_bucket = {
        r["bucket"]: (r["n_docs"], r["n_spans"])
        for r in spans.groupBy("bucket")
        .agg(F.countDistinct("doc_id").alias("n_docs"), F.count("*").alias("n_spans"))
        .collect()
    }
    n_entries = {
        r["bucket"]: r["count"]
        for r in lineage.sink.read(spark, root, "extracted").groupBy("bucket").count().collect()
    }
    lin = spark.read.parquet(lineage.lineage_path(root)).collect()
    assert len(lin) == s["buckets_run"]
    for r in lin:
        n_docs, n_spans = per_bucket.get(r["bucket"], (0, 0))
        assert (r["n_docs"], r["n_entries"], r["n_spans"]) == (
            n_docs,
            n_entries.get(r["bucket"], 0),
            n_spans,
        ), r


def _dup_heavy_corpus() -> list[dict]:
    """``gen_corpus(N_DOCS)`` plus a re-upload of every other doc under a new
    doc_id (same file_hash and spans), and three copies that exercise the
    router: an unlabeled copy of a detection_mismatch doc (the ERROR record
    holds the hash slot, so no copy is admitted), a relabeled copy of an
    admitted doc (vendor_mismatch) and an unlabeled copy, sorting before its
    original, that wins the slot by detection."""
    base = corpus.gen_corpus(N_DOCS)
    docs = base + [{**d, "doc_id": d["doc_id"] + "r"} for d in base[::2]]
    route = vendor_detect.route_doc
    mis = next(d for d in base if route(d)["pre_reason"] == "detection_mismatch")
    docs.append({**mis, "doc_id": mis["doc_id"] + "u", "vendor": ""})
    admitted = oracle.admit(base)
    relabeled = next(
        {**d, "doc_id": d["doc_id"] + "v", "vendor": v}
        for d in admitted
        for v in VENDOR_CONFIGS
        if v != d["vendor"] and route({**d, "vendor": v})["pre_reason"] is None
    )
    by_detection = next(
        {**d, "doc_id": d["doc_id"][:-1] + str(int(d["doc_id"][-1]) - 1) + "u", "vendor": ""}
        for d in admitted
        if d["vendor"] != "" and d["doc_id"][-1] != "0"
        and route({**d, "vendor": ""})["eff_vendor"] == d["vendor"]
    )
    docs += [relabeled, by_detection]
    _admitted, quarantine = oracle.route_and_admit(docs)
    reasons = {q["doc_id"]: q["reason"] for q in quarantine}
    assert reasons[mis["doc_id"] + "u"] == "vendor_mismatch"
    assert reasons[relabeled["doc_id"]] == "vendor_mismatch"
    assert by_detection["doc_id"] in {d["doc_id"] for d in _admitted}
    return docs


def _sorted_rows(rows, cols):
    return sorted(tuple(r[c] for c in cols) for r in rows)


def test_lineage_equals_oracle_duplicate_heavy(spark, tmp_path):
    """The shipped path (run_with_lineage + read_output) equals the oracle
    on a corpus where a third of the docs are re-uploads, also after a
    crash that lost half the lineage rows and a resume."""
    docs = _dup_heavy_corpus()
    df = spark.createDataFrame(docs, schema=corpus.spark_schema())
    exp = oracle.corpus_outputs(docs)
    exp["doc_meta"] = [
        {"doc_id": d["doc_id"], "vendor": d["vendor"], "file_hash": d["file_hash"]}
        for d in oracle.admit(docs)
    ]
    root = str(tmp_path / "dup")

    def check():
        for name in ("extracted_spans", "extracted", "doc_stats", "doc_meta"):
            got = lineage.read_output(spark, root, name)
            cols = sorted(got.columns)
            assert _sorted_rows(got.collect(), cols) == _sorted_rows(exp[name], cols), name

    lineage.run_with_lineage(spark, df, root, "dup1", N_BUCKETS)
    check()

    lin_path = lineage.lineage_path(root)
    kept = spark.read.parquet(lin_path).where(F.col("bucket") < N_BUCKETS // 2).collect()
    shutil.rmtree(lin_path)
    spark.createDataFrame(kept, schema=lineage._LINEAGE_SCHEMA).write.parquet(lin_path)
    s = lineage.run_with_lineage(spark, df, root, "dup2", N_BUCKETS)
    assert s["buckets_skipped"] == N_BUCKETS // 2 and s["buckets_run"] > 0
    check()


def _python_nodes(plan) -> list[str]:
    """Python-evaluation node names of a physical plan, not descending into
    cached relations (an InMemoryTableScan is a leaf): what running the
    plan itself evaluates in Python."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if "Python" in name or "Arrow" in name:
            out.append(name)
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def _job_plans(spark, docs_df, root, monkeypatch) -> tuple[list, list]:
    """Run one lineage job with ``persist`` (on the session's DataFrame
    class), ``sink.write_partitioned`` and ``sink.append`` spied; return the
    physical plans of the frames it persisted and of those it wrote."""
    persisted, written = [], []
    frame_cls = type(docs_df)  # the session's concrete DataFrame class
    real_persist = frame_cls.persist

    def persist_spy(self, *args, **kwargs):
        # The plan the cache will run: a fresh frame over this one, planned
        # before this one is cached (upstream caches are leaves in it).
        persisted.append(self.select("*")._jdf.queryExecution().executedPlan())
        return real_persist(self, *args, **kwargs)

    def write_spy(real):
        def spy(df, *args, **kwargs):
            written.append(df._jdf.queryExecution().executedPlan())
            return real(df, *args, **kwargs)

        return spy

    monkeypatch.setattr(frame_cls, "persist", persist_spy)
    monkeypatch.setattr(lineage.sink, "write_partitioned", write_spy(lineage.sink.write_partitioned))
    monkeypatch.setattr(lineage.sink, "append", write_spy(lineage.sink.append))
    s = lineage.run_with_lineage(spark, docs_df, root, "job_py", N_BUCKETS)
    monkeypatch.undo()
    assert s["buckets_run"] > 0
    return persisted, written


def test_job_has_one_python_stage(spark, docs_df, tmp_path, monkeypatch):
    """A job crosses into Python once: one mapInArrow stage routes, builds
    pages and extracts; neither the routing UDF nor the page-kernel UDF is
    planned. Counted over the plans of every frame the job persists and
    every frame it writes."""
    from pdf_parser_spark.extraction import pipeline

    def refuse(*args, **kwargs):
        raise AssertionError("not on the job path")

    monkeypatch.setattr(vendor_detect, "route_columns", refuse)
    monkeypatch.setattr(pipeline, "page_entries_frame", refuse)
    persisted, written = _job_plans(spark, docs_df, str(tmp_path / "out"), monkeypatch)
    nodes = [n for p in persisted + written for n in _python_nodes(p)]
    assert len(nodes) == 1 and nodes[0] in ("MapInArrow", "PythonMapInArrow"), nodes


def _doc_id_exchange_parents(plan) -> list[str]:
    """For every shuffle exchange keyed on an expression of ``doc_id`` in a
    physical plan (not descending into cached relations), the name of the
    node it feeds."""
    out, stack = [], [(plan, None)]
    while stack:
        node, parent = stack.pop()
        name = node.nodeName()
        if name == "Exchange" and "doc_id#" in node.outputPartitioning().toString():
            out.append(parent)
        if name == "AdaptiveSparkPlan":
            stack.append((node.executedPlan(), parent))
        children = node.children()
        stack.extend((children.apply(i), name) for i in range(children.size()))
    return out


def test_outputs_are_shuffle_free_projections_of_the_winners(
    spark, docs_df, tmp_path, monkeypatch
):
    """Each doc is finished inside the Python stage, so the job persists
    one frame (the admitted winners) and regroups nothing by doc after it:
    across the plans of every frame it persists and writes, the only
    exchange keyed on doc_id is the one feeding that stage."""
    persisted, written = _job_plans(spark, docs_df, str(tmp_path / "out"), monkeypatch)
    assert len(persisted) == 1
    parents = [n for p in persisted + written for n in _doc_id_exchange_parents(p)]
    assert len(parents) == 1 and parents[0] in ("MapInArrow", "PythonMapInArrow"), parents
    nodes = [n for p in persisted + written for n in _python_nodes(p)]
    assert len(nodes) == 1, nodes


def test_admitted_doc_without_spans_keeps_its_doc_stats(spark, tmp_path):
    """An admitted doc with no spans has no pages and no entries, yet the
    oracle gives it a doc_stats row (total_pages 0, extraction_success
    false); the shipped path must write that row too."""
    docs = corpus.gen_corpus(6, 901)
    labeled = next(d for d in docs if d["vendor"])
    docs.append({**labeled, "doc_id": "zz_no_spans", "file_hash": "no_spans", "spans": []})
    exp = oracle.corpus_outputs(docs)["doc_stats"]
    assert {"doc_id": "zz_no_spans", "total_pages": 0} in [
        {k: r[k] for k in ("doc_id", "total_pages")} for r in exp
    ]
    df = spark.createDataFrame(docs, schema=corpus.spark_schema())
    root = str(tmp_path / "no_spans")
    lineage.run_with_lineage(spark, df, root, "job_ns", N_BUCKETS)
    got = lineage.read_output(spark, root, "doc_stats")
    cols = sorted(got.columns)
    assert _sorted_rows(got.collect(), cols) == _sorted_rows(exp, cols)
