"""Benchmark plumbing: the Spark session, process-tree memory sampling,
output digests, per-operation Spark job counts, spans, and teardown."""

from __future__ import annotations

import contextlib
import os
import signal
import threading
import time

from inputs import FIELD_SEP, NULL_TOKEN, TABLE_COLUMNS

CORES = 4
HEAP = "2g"


def session_conf(work: str) -> dict:
    """Conf the benchmark adds to ``session.get_spark``'s own: every file
    Spark writes lands under ``work``, no console progress bar, and a heap
    small enough to share the machine.  The heap is committed and touched
    at start and cannot grow: how far an adaptively sized heap grows
    differs by hundreds of MB between identical runs, which would drown
    every other change in ``peak_rss_mb`` (see README.md)."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.driver.memory": HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP} -XX:+AlwaysPreTouch"
        ),
    }


def start_session(work: str):
    from pdf_parser_spark.session import get_spark

    spark = get_spark(
        cores=CORES,
        app_name="perfbench",
        shuffle_partitions=2 * CORES,
        extra_conf=session_conf(work),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process(spark):
    return spark.sparkContext._gateway.proc


# --- memory --------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between the forked Python
    workers count once across them, so the sum over processes is not
    inflated by sharing."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def heap_after_gc_mb(spark) -> float:
    """JVM heap that survived collection: every heap pool but eden (the
    survivor and old-generation pools change only when a collection moves
    objects into them), read through the gateway's MemoryPoolMXBeans.
    ``getCollectionUsage`` would say the same more directly, but G1 on
    JDK 17 does not update it for the old generation on young collections."""
    factory = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    used = 0
    for pool in factory.getMemoryPoolMXBeans():
        if pool.getType().toString() == "Heap memory" and "Eden" not in pool.getName():
            used += pool.getUsage().getUsed()
    return used / 2**20


class MemorySampler:
    """Peak summed memory (PSS) of the driver JVM and its Python workers,
    and, when ``heap`` is given, the peak of what it returns (heap MB in use
    after collection)."""

    def __init__(self, root_pid: int, period_s: float = 0.5, heap=None):
        self.root_pid = root_pid
        self.period_s = period_s
        self.heap = heap
        self.peak_heap_mb = 0.0
        self.peak_kb = 0
        self.peak_split = (0.0, 0.0, 0)  # (JVM MB, Python workers MB, worker count) at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        pids = process_tree(self.root_pid)
        pss = [_pss_kb(p) for p in pids]
        if sum(pss) > self.peak_kb:
            self.peak_kb = sum(pss)
            self.peak_split = (pss[0] / 1024.0, sum(pss[1:]) / 1024.0, len(pss) - 1)
        if self.heap is not None:
            with contextlib.suppress(Exception):  # the gateway closes at teardown
                self.peak_heap_mb = max(self.peak_heap_mb, self.heap())

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Spark's
    Python worker daemon outlives the JVM that started it), so
    ``reap_children`` can wait for every process the run started."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_children(timeout_s: float = 30.0) -> None:
    """Wait until every descendant has ended; kill what is left after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in process_tree(os.getpid())[1:]:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.05)


def stop_session(spark, sampler: MemorySampler | None) -> None:
    """Stop Spark and end the JVM; ``reap_children`` then waits for the rest."""
    from pyspark import SparkContext

    proc = jvm_process(spark)
    if sampler is not None:
        sampler.stop()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


# --- correctness -----------------------------------------------------------------


def output_digest(frames: dict) -> dict:
    """Digest of ``{table: DataFrame}`` in the form ``inputs`` computes for
    the oracle: per table [row count, sum of 60-bit md5 row prefixes]."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    parts = []
    for t, df in frames.items():
        s = F.concat_ws(
            FIELD_SEP,
            *[F.coalesce(F.col(c).cast("string"), F.lit(NULL_TOKEN)) for c in TABLE_COLUMNS[t]],
        )
        h = F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("decimal(38,0)")
        parts.append(df.select(F.lit(t).alias("t"), h.alias("h")))
    rows = (
        reduce(DataFrame.unionByName, parts)
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))
        .collect()
    )
    got = {t: [0, 0] for t in frames}
    for r in rows:
        got[r["t"]] = [int(r["n"]), int(r["s"])]
    return got


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


# --- per-operation Spark work -----------------------------------------------------


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``; read from
    the status tracker, not the program."""
    tracker = spark.sparkContext.statusTracker()
    ids = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                stages += 1
                tasks += st.numTasks
    return len(ids), stages, tasks


def tree_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; data files exclude checksums and markers."""
    files = size = 0
    for d, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            if not n.startswith((".", "_")):
                files += 1
    return files, size


# --- spans and summaries ----------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent) around calls into each layer."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        start = time.perf_counter()
        idx = len(self.spans)
        self.spans.append(
            {"name": name, "start": start, "end": None,
             "parent": self._stack[-1] if self._stack else None, **attrs}
        )
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten samples
    beyond it; with ten or fewer samples none has, and the maximum (p100)
    is reported."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return 100.0, xs[-1]
    k = n - 10  # 1-based rank with exactly ten samples above it
    return 100.0 * k / n, xs[k - 1]
