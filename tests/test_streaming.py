"""Structured Streaming wrapper: availableNow drain over the documents
directory must equal the batch lineage run; a restart after new files
arrive must process only the new files (checkpoint) while converging to
the batch result over the union; a byte-identical re-upload in a LATER
micro-batch must be dropped by the cross-batch doc_meta anti-join; and
compaction must fold sub-roots without changing any read."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pdf_parser_spark import corpus, lineage, streaming

N1, N2 = 60, 90  # first drop: docs [0,60); second drop adds [60,90)


def _batch_rows(spark, root):
    return sorted(map(tuple, lineage.read_output(spark, root, "extracted_spans").collect()))


def _stream_rows(spark, root):
    return sorted(
        map(tuple, streaming.read_stream_output(spark, root, "extracted_spans").collect())
    )


@pytest.fixture(scope="module")
def dirs(tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    (base / "in").mkdir()
    return base


def test_stream_matches_batch_and_resumes(spark, dirs):
    inp, out, ckpt = str(dirs / "in"), str(dirs / "out"), str(dirs / "ckpt")
    corpus.write_corpus_parquet(f"{inp}/part1.parquet", N1)

    q = streaming.stream_extract(spark, inp, out, ckpt, job_id="s1", n_buckets=8)
    q.awaitTermination(300)

    batch_root = str(dirs / "batch1")
    docs1 = spark.read.parquet(f"{inp}/part1.parquet")
    lineage.run_with_lineage(spark, docs1, batch_root, "b1", n_buckets=8)
    assert _stream_rows(spark, out) == _batch_rows(spark, batch_root)

    # Second drop: only the new file should be read (checkpoint dedups
    # part1); buckets get reprocessed-or-skipped per lineage as usual.
    # It also carries a byte-identical RE-UPLOAD of doc 3 under a new
    # doc_id: the cross-batch doc_meta anti-join must drop it, exactly as
    # the batch run's corpus-global first-wins admission does.
    rows2 = corpus.gen_corpus(N2)[N1:]
    dup = dict(corpus.gen_doc(3))
    dup["doc_id"] = "d9999999"
    rows2.append(dup)
    pq.write_table(
        pa.Table.from_pylist(rows2, schema=corpus.arrow_schema()),
        f"{inp}/part2.parquet",
    )
    q2 = streaming.stream_extract(spark, inp, out, ckpt, job_id="s2", n_buckets=8)
    q2.awaitTermination(300)

    batch_root2 = str(dirs / "batch2")
    lineage.run_with_lineage(
        spark, spark.read.parquet(inp), batch_root2, "b2", n_buckets=8
    )
    stream_rows = _stream_rows(spark, out)
    assert stream_rows == _batch_rows(spark, batch_root2)
    assert not any(r[0] == "d9999999" for r in stream_rows)  # re-upload dropped

    # Compaction: folding the two sub-roots into the bucketed layout must
    # not change any read, and master_log must still derive over it.
    before_ml = sorted(
        map(tuple, streaming.read_stream_output(spark, out, "master_log").collect())
    )
    n = streaming.compact_stream_output(spark, out, n_buckets=8)
    assert n == 2
    assert not any(d.startswith("batch=") for d in os.listdir(out))
    assert _stream_rows(spark, out) == stream_rows
    after_ml = sorted(
        map(tuple, streaming.read_stream_output(spark, out, "master_log").collect())
    )
    assert after_ml == before_ml

    # Third drop AFTER compaction: another re-upload (of doc 10) must be
    # dropped by the anti-join against the *compacted* doc_meta.
    dup2 = dict(corpus.gen_doc(10))
    dup2["doc_id"] = "d9999998"
    pq.write_table(
        pa.Table.from_pylist([dup2], schema=corpus.arrow_schema()),
        f"{inp}/part3.parquet",
    )
    q3 = streaming.stream_extract(spark, inp, out, ckpt, job_id="s3", n_buckets=8)
    q3.awaitTermination(300)
    rows3 = _stream_rows(spark, out)
    assert rows3 == stream_rows  # nothing new admitted


def test_empty_upload_writes_nothing(spark, tmp_path):
    """A zero-row file landing in the input raises nothing and commits no
    lineage: the micro-batch has no admitted doc, so no bucket runs."""
    inp, out = tmp_path / "in", tmp_path / "out"
    inp.mkdir()
    pq.write_table(corpus.arrow_schema().empty_table(), str(inp / "empty.parquet"))
    q = streaming.stream_extract(spark, str(inp), str(out), str(tmp_path / "ckpt"), n_buckets=8)
    q.awaitTermination(300)
    assert q.exception() is None
    assert [p["numInputRows"] for p in q.recentProgress if p["batchId"] == 0] == [0]
    assert not list(out.glob("batch=*/lineage"))


class _FakeState:
    """Minimal GroupState stand-in for unit-testing _status_update."""

    def __init__(self, value=None, timed_out=False):
        self._v = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self.removed = True
        self._v = None

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def _run_update(doc_id, rows, state):
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["doc_id", "status", "ts"])
    out = list(streaming._status_update((doc_id,), iter([pdf] if rows else []), state))
    return pd.concat(out).to_dict("records")


def test_status_update_transitions_and_terminal():
    st = _FakeState()
    [r] = _run_update("d1", [("d1", "PENDING", 10), ("d1", "PROCESSING", 20)], st)
    assert r["status"] == "PROCESSING" and r["n_events"] == 2
    assert st.exists and not st.removed and st.timeout_ms == 300_000

    # late PENDING must not regress; COMPLETED closes the key
    [r2] = _run_update(
        "d1", [("d1", "PENDING", 5), ("d1", "COMPLETED", 30)], _FakeState(st.get)
    )
    assert r2["status"] == "COMPLETED"
    assert r2["n_events"] == 4 and r2["first_ts"] == 5 and r2["last_ts"] == 30


def test_status_update_timeout_emits_error():
    st = _FakeState(("PROCESSING", 3, 10, 20), timed_out=True)
    [r] = _run_update("d2", [], st)
    assert r["status"] == "ERROR" and r["reason"] == "timeout"
    assert r["n_events"] == 3 and st.removed


def test_doc_status_stream_over_micro_batches(spark, tmp_path):
    """End-to-end applyInPandasWithState: state must carry across
    micro-batches (maxFilesPerTrigger=1 → one batch per file) and terminal
    docs must emit their final row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    evdir = tmp_path / "events"
    evdir.mkdir()
    schema = pa.schema(
        [pa.field("doc_id", pa.string()), pa.field("status", pa.string()), pa.field("ts", pa.int64())]
    )
    pq.write_table(
        pa.Table.from_pylist(
            [
                {"doc_id": "a", "status": "PENDING", "ts": 1},
                {"doc_id": "b", "status": "PENDING", "ts": 2},
            ],
            schema=schema,
        ),
        str(evdir / "b0.parquet"),
    )
    pq.write_table(
        pa.Table.from_pylist(
            [
                {"doc_id": "a", "status": "PROCESSING", "ts": 3},
                {"doc_id": "a", "status": "COMPLETED", "ts": 4},
            ],
            schema=schema,
        ),
        str(evdir / "b1.parquet"),
    )

    events = (
        spark.readStream.schema("doc_id string, status string, ts long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(evdir))
    )
    q = (
        streaming.doc_status_stream(events)
        .writeStream.format("memory")
        .queryName("doc_status")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = {
        (r["doc_id"], r["status"]): r
        for r in spark.sql("select * from doc_status").collect()
    }
    final_a = rows[("a", "COMPLETED")]
    # state carried across batches: both batch-1 events plus batch-0's
    assert final_a["n_events"] == 3 and final_a["first_ts"] == 1 and final_a["last_ts"] == 4
    assert ("b", "PENDING") in rows  # non-terminal doc reported, state kept
