"""Extraction benchmark: one closed-loop client driving the extraction
product's public functions on local[4], every operation's outputs checked
against the pure-Python oracle.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 5 --trace 0

Workloads (see README.md for why each exists):
  backfill  one lineage.run_with_lineage job over a generated corpus, into a
            fresh output root, in a freshly started application;
  ingest    one ~100-doc upload batch landed into a freshly started
            streaming.stream_extract query whose output root already holds
            the compacted state of earlier uploads.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
operation with per-operation bookkeeping plus a layer sweep and prints the
per-layer metrics.  The last stdout line is one JSON object; the exit code is
non-zero when any operation failed or left more persisted RDDs than it found
(the leak probe).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, REPO_ROOT)

import harness  # noqa: E402  (fails outside a checkout of the program)
import inputs  # noqa: E402
from pdf_parser_spark import lineage, sink, streaming  # noqa: E402

# Bucket count for every lineage root: two per core, like the shuffle width.
# The library default (64) adds ~15 s to the backfill job and ~8 s to an
# ingest batch (see README.md), which does not fit a full pass of the benchmark.
N_BUCKETS = 8
SIZES = {
    # backfill docs, earlier uploads in the ingest service's state, docs in
    # the ingest batch and re-uploads among them, sweep sample docs
    "full": {"backfill_docs": 2000, "history": 2000, "batch_docs": 100, "reuploads": 5,
             "sample": 1000},
    "tiny": {"backfill_docs": 300, "history": 200, "batch_docs": 40, "reuploads": 3,
             "sample": 120},
}

END_TO_END = {
    "docs_per_s": "1/s",
    "batch_latency_p50_s": "s",
    "batch_latency_tail_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "vendor_detect.route_s": "s",
    "admission.s": "s",
    "admission.admitted_ratio": "ratio",
    "admission.quarantined": "count",
    "pages.s": "s",
    "pages.count": "count",
    "pages.max_per_doc": "count",
    "kernel.ms_per_page": "ms",
    "kernel.ocr_ms_per_page": "ms",
    "kernel.ocr_share": "ratio",
    "udfs.s": "s",
    "entries.s": "s",
    "entries.dedup_keep_ratio": "ratio",
    "outputs.plan_s": "s",
    "lineage.noop_resume_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.persisted_after": "count",
    "jvm.heap_after_gc_peak_mb": "MB",
    "sink.files": "count",
    "sink.bytes": "bytes",
    "sink.read_s": "s",
    "reports.master_log_s": "s",
    "reports.rollups_s": "s",
    "streaming.subroots": "count",
    "streaming.known_hashes": "count",
    "streaming.crossbatch_dropped": "count",
    "streaming.compact_s": "s",
    "baseline.oracle_docs_per_s": "1/s",
    "trace.batch_latency_p50_s": "s",
    "trace.bookkeeping_s": "s",
}


class Run:
    """State of one benchmark run: arguments, session, and what was measured."""

    def __init__(self, args, work: str, run_dir: str):
        self.args = args
        self.size = SIZES[args.size]
        self.work = work
        self.cache = os.path.join(work, "cache")
        self.run_dir = run_dir
        self.tracer = harness.Tracer()
        self.spark = None
        self.sampler = None
        self.session_s = 0.0
        self.setup_s = 0.0
        self.latencies: list[float] = []
        self.docs = 0
        self.attempted = 0
        self.failed = 0
        self.persisted: list[int] = []
        self.leaked = False
        self.layer: dict = {}
        self.bookkeeping_s = 0.0
        self.notes: list[str] = []

    def start_session(self) -> None:
        t = time.perf_counter()
        self.spark = harness.start_session(self.run_dir)
        self.session_s = time.perf_counter() - t
        spark = self.spark
        # Heap pools are read through the gateway, so only in the traced run.
        heap = (lambda: harness.heap_after_gc_mb(spark)) if self.args.trace else None
        self.sampler = harness.MemorySampler(harness.jvm_process(spark).pid, heap=heap).start()

    def record(
        self, name: str, ok: bool, why: str = "", persisted_before: int | None = None
    ) -> None:
        """Count one checked operation; with ``persisted_before`` (the
        persisted-RDD count when it began) also probe it for stranded cached
        frames: every run of an operation does the same work, so one that
        ends with more persisted RDDs than it found leaks on every run."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"FAILED {name}: {why}")
        if persisted_before is not None:
            after = harness.persisted_rdds(self.spark)
            self.persisted.append(after)
            if after > persisted_before:
                self.leaked = True
                self.notes.append(
                    f"leak probe: {name} left {after} persisted RDDs, found {persisted_before}"
                )

    def op_counts(self, group: str, root: str) -> None:
        """Spark work and sink output of the timed operation."""
        t = time.perf_counter()
        jobs, stages, tasks = harness.job_counts(self.spark, group)
        files, size = harness.tree_size(root)
        self.layer.update({
            "spark.jobs": jobs, "spark.stages": stages, "spark.tasks": tasks,
            "sink.files": files, "sink.bytes": size,
        })
        self.bookkeeping_s += time.perf_counter() - t


def check_outputs(frames: dict, expected: dict) -> tuple[bool, str]:
    got = harness.output_digest(frames)
    if got != expected:
        return False, f"outputs differ from oracle: got {got}, expected {expected}"
    return True, ""


# --- backfill ------------------------------------------------------------------


def backfill(r: Run) -> None:
    size, args = r.size, r.args
    inp = inputs.backfill_inputs(r.cache, args.seed, size["backfill_docs"], procs=4)
    meta = inputs.load_meta(inp)
    docs_path = os.path.join(inp, "docs")

    # One job per application and no warm-up: the deployed batch job
    # (jobs/run_extraction.py) starts a fresh application for every job, so
    # its users pay the first job's compilation every time.
    r.start_session()
    spark = r.spark
    r.setup_s = r.session_s
    root = os.path.join(r.run_dir, "backfill")
    group = "backfill"
    persisted = harness.persisted_rdds(spark)
    spark.sparkContext.setJobGroup(group, group)
    with r.tracer.span("op", workload="backfill"):
        t = time.perf_counter()
        try:
            summary = lineage.run_with_lineage(
                spark, spark.read.parquet(docs_path), root, group, n_buckets=N_BUCKETS
            )
            error = None
        except Exception as e:  # an operation that raises counts as failed
            error = repr(e)
        lat = time.perf_counter() - t
    spark.sparkContext.setJobGroup("perfbench-check", "check")
    if error is not None:
        r.record(group, False, error, persisted)
        return
    r.latencies.append(lat)
    r.docs += meta["n_docs"]
    if args.trace:
        r.op_counts(group, root)
    done = lineage.completed_buckets(spark, root)
    if summary["buckets_run"] == 0 or len(done) != summary["buckets_run"]:
        r.record(group, False, f"lineage not committed: {summary}, completed={sorted(done)}",
                 persisted)
        return
    r.record(group, *check_outputs(
        {t: lineage.read_output(spark, root, t) for t in inputs.TABLE_COLUMNS},
        meta["expected"],
    ), persisted)

    if args.trace and not r.failed:
        import layers
        from pdf_parser_spark import corpus

        n = min(size["sample"], meta["n_docs"])
        sample = spark.read.parquet(docs_path).where(f"doc_id < 'd{n:07d}'")
        r.layer.update(layers.sweep(
            spark, r.tracer, sample, corpus.gen_corpus(n, args.seed),
            read=lambda name, track: lineage.read_output(spark, root, name, track=track),
            resume=lambda: lineage.run_with_lineage(
                spark, spark.read.parquet(docs_path), root, "resume", n_buckets=N_BUCKETS
            ),
        ))
        # A backfill root is what a stream started over it would anti-join
        # against.  It has no micro-batch sub-roots, drops nothing across
        # batches and has nothing to compact: those three are constant 0 here.
        known = sink.read(spark, root, "doc_meta").select("file_hash").distinct().count()
        r.layer.update({
            "streaming.subroots": 0,
            "streaming.known_hashes": known,
            "streaming.crossbatch_dropped": 0,
            "streaming.compact_s": 0.0,
        })


# --- ingest --------------------------------------------------------------------


def ingest(r: Run) -> None:
    from pyspark.sql import functions as F

    size, args = r.size, r.args
    inp = inputs.ingest_inputs(
        r.cache, args.seed, size["history"], size["batch_docs"], size["reuploads"]
    )
    meta = inputs.load_meta(inp)
    base = os.path.join(r.run_dir, "ingest")
    in_dir, out, ckpt = (os.path.join(base, d) for d in ("in", "out", "ckpt"))
    os.makedirs(in_dir)

    r.start_session()
    spark = r.spark
    t_setup = time.perf_counter()
    # The service has compacted its earlier uploads: their admitted content
    # sits in the compacted layout that the cross-batch anti-join reads.
    history = spark.read.parquet(os.path.join(inp, "history.parquet"))
    sink.write_partitioned(
        history.withColumn("bucket", lineage._bucket(F.col("doc_id"), N_BUCKETS)),
        os.path.join(out, streaming.COMPACTED_DIR), "doc_meta", "bucket",
    )
    query = streaming.stream_extract(
        spark, in_dir, out, ckpt, job_id="ingest", n_buckets=N_BUCKETS, available_now=False
    )
    try:
        query.processAllAvailable()  # running, with nothing landed yet
        r.setup_s = r.session_s + (time.perf_counter() - t_setup)
        if args.trace:
            t = time.perf_counter()
            known = streaming.accumulated_doc_meta(spark, out).distinct().count()
            r.bookkeeping_s += time.perf_counter() - t
        persisted = harness.persisted_rdds(spark)
        hidden = os.path.join(in_dir, ".batch.parquet")
        shutil.copyfile(os.path.join(inp, "batch.parquet"), hidden)
        with r.tracer.span("op", workload="ingest"):
            t = time.perf_counter()
            os.rename(hidden, os.path.join(in_dir, "batch.parquet"))  # the upload lands
            error = None
            try:
                query.processAllAvailable()
            except Exception as e:  # an operation that raises counts as failed
                error = repr(e)
            lat = time.perf_counter() - t
        if error is None and query.exception() is not None:
            error = str(query.exception())
    finally:
        query.stop()
    name = "ingest batch"
    if error is not None:
        r.record(name, False, error, persisted)
        return
    subs = _subroots(out)
    if len(subs) != 1 or not lineage.completed_buckets(spark, os.path.join(out, subs[0])):
        r.record(name, False, f"expected one committed micro-batch sub-root, got {subs}",
                 persisted)
        return
    subroot = os.path.join(out, subs[0])
    r.latencies.append(lat)
    r.docs += meta["n_docs"]
    if args.trace:
        r.op_counts(str(query.runId), subroot)
    r.record(name, *check_outputs(
        {t: lineage.read_output(spark, subroot, t) for t in inputs.TABLE_COLUMNS},
        meta["expected"],
    ), persisted)

    if args.trace and not r.failed:
        import layers

        batch_path = os.path.join(in_dir, "batch.parquet")

        def resume():
            # The batch again, through the same cross-batch anti-join, into
            # its completed sub-root.
            prior = streaming.accumulated_doc_meta(spark, out, exclude_batch=subs[0])
            lineage.run_with_lineage(
                spark, spark.read.parquet(batch_path).join(prior, "file_hash", "left_anti"),
                subroot, "resume", n_buckets=N_BUCKETS,
            )

        r.layer.update(layers.sweep(
            spark, r.tracer, spark.read.parquet(batch_path), _read_docs(batch_path),
            read=lambda name, track: streaming.read_stream_output(spark, out, name, track=track),
            resume=resume,
        ))
        # Docs the oracle admits from the batch on its own, minus the docs
        # the program admitted into the batch's doc_meta.
        written = lineage.read_output(spark, subroot, "doc_meta").count()
        # Compaction folds the batch's sub-root into the compacted layout;
        # the outputs it holds must still be the oracle's for the batch.
        with r.tracer.span("streaming.compact_s") as s:
            folded = streaming.compact_stream_output(spark, out, n_buckets=N_BUCKETS)
        r.record("compaction", *check_outputs(
            {t: streaming.read_stream_output(spark, out, t) for t in inputs.TABLE_COLUMNS},
            meta["expected"],
        ))
        r.layer.update({
            "streaming.subroots": folded,
            "streaming.known_hashes": known,
            "streaming.crossbatch_dropped": meta["admitted_alone"] - written,
            "streaming.compact_s": s["end"] - s["start"],
        })


def _subroots(out: str) -> list[str]:
    """Micro-batch sub-roots (``batch=<id>``) under a stream's output root."""
    return sorted(d for d in os.listdir(out) if d.startswith("batch="))


def _read_docs(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


WORKLOADS = {"backfill": backfill, "ingest": ingest}


# --- reporting -------------------------------------------------------------------


def end_to_end(r: Run) -> dict:
    pct, tail = harness.tail(r.latencies)
    r.notes.append(
        f"batch_latency_tail_s is p{pct:.0f} of n={len(r.latencies)} timed operations"
    )
    jvm_mb, py_mb, n_py = r.sampler.peak_split
    r.notes.append(
        f"peak_rss_mb = JVM {jvm_mb:.0f} MB + {n_py} Python worker processes {py_mb:.0f} MB"
    )
    return {
        "docs_per_s": r.docs / sum(r.latencies),
        "batch_latency_p50_s": statistics.median(r.latencies),
        "batch_latency_tail_s": tail,
        "setup_s": r.setup_s,
        "peak_rss_mb": r.sampler.peak_mb,
    }


def per_layer(r: Run) -> dict:
    m = dict(r.layer)
    m["session.start_s"] = r.session_s
    m["spark.persisted_after"] = max(r.persisted)
    m["jvm.heap_after_gc_peak_mb"] = r.sampler.peak_heap_mb
    m["trace.batch_latency_p50_s"] = statistics.median(r.latencies)
    m["trace.bookkeeping_s"] = r.bookkeeping_s
    return m


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full",
                   help="input size; 'tiny' is for the smoke test only")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(REPO_ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    harness.become_subreaper()
    r = Run(args, work, run_dir)
    try:
        WORKLOADS[args.workload](r)
        conf = dict(r.spark.sparkContext.getConf().getAll())
    finally:
        if r.spark is not None:
            harness.stop_session(r.spark, r.sampler)
        harness.reap_children()
        if args.trace:
            with open(os.path.join(work, f"trace-{args.workload}-s{args.seed}.json"), "w") as f:
                json.dump(r.tracer.spans, f)
        shutil.rmtree(run_dir, ignore_errors=True)

    correct = r.failed == 0 and not r.leaked and r.attempted > 0 and bool(r.latencies)
    metrics = {}
    if r.latencies:
        values, units = (per_layer(r), PER_LAYER) if args.trace else (end_to_end(r), END_TO_END)
        missing = set(units) - set(values)
        if missing:
            raise RuntimeError(f"metrics not measured: {sorted(missing)}")
        metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
        if args.trace == 0:
            r.notes.append(f"failed_ratio {r.failed / r.attempted} (failed/attempted)")

    print(f"perfbench: workload={args.workload} seed={args.seed} size={args.size} "
          f"cores={harness.CORES} n_buckets={N_BUCKETS}")
    print("perfbench: spark conf " + json.dumps(conf, sort_keys=True))
    for note in r.notes:
        print("perfbench: " + note)
    for k, v in metrics.items():
        print(f"perfbench: {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({
        "correct": correct,
        "attempted": r.attempted,
        "failed": r.failed + (1 if r.leaked else 0),
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
