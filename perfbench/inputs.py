"""Seeded workload inputs and their oracle expectations, cached per seed and size.

Every input document comes from ``corpus.gen_doc`` (a pure function of seed
and index), written by this one process.  The expectations are digests of
what ``pdf_parser_spark.oracle`` says each operation must produce: for each
of ``extracted_spans``, ``extracted`` and ``doc_stats`` the row count and the
sum of a 60-bit md5 prefix over a canonical rendering of every row.  The
``seq`` / ``row_seq`` columns are part of each row, so the span order per
document is checked too.  The same digest is computed over the program's
outputs in Spark (``harness.output_digest``).
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import random
import shutil

from pdf_parser_spark import corpus, oracle

# Bump when the input or expectation format changes, so stale caches are ignored.
CACHE_VERSION = "4"

TABLE_COLUMNS = {
    "extracted_spans": ("doc_id", "seq", "kind", "text", "media_ref", "offset"),
    "extracted": (
        "doc_id", "vendor", "field_key", "field_value", "page_number", "row_seq", "created",
    ),
    "doc_stats": (
        "doc_id", "total_pages", "successful_pages", "ocr_fallback_pages",
        "failed_pages", "extraction_success", "partial_extraction",
    ),
}

NULL_TOKEN = "\x00"
FIELD_SEP = "\x1f"


def _render(v) -> str:
    """Row value as Spark's ``cast(... as string)`` renders it."""
    if v is None:
        return NULL_TOKEN
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def row_hash(values) -> int:
    s = FIELD_SEP.join(_render(v) for v in values)
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def empty_digest() -> dict:
    return {t: [0, 0] for t in TABLE_COLUMNS}


def add_digests(a: dict, b: dict) -> dict:
    return {t: [a[t][0] + b[t][0], a[t][1] + b[t][1]] for t in TABLE_COLUMNS}


def oracle_expectation(docs: list[dict]) -> tuple[dict, list[dict]]:
    """(digest, admitted docs) of the oracle over ``docs``."""
    admitted, _quarantine = oracle.route_and_admit(docs)
    digest = empty_digest()
    for doc in admitted:
        results, stats = oracle.process_document(doc)
        tables = {
            "extracted_spans": oracle.extracted_spans_rows(doc, results),
            "extracted": oracle.extracted_rows(doc, results),
            "doc_stats": [oracle.doc_stats_row(doc, stats)],
        }
        for t, rows in tables.items():
            cols = TABLE_COLUMNS[t]
            d = digest[t]
            for r in rows:
                d[0] += 1
                d[1] += row_hash([r[c] for c in cols])
    return digest, admitted


def _chunk_expectation(args) -> tuple[dict, list[str]]:
    seed, lo, hi = args
    docs = [corpus.gen_doc(i, seed) for i in range(lo, hi)]
    digest, _admitted = oracle_expectation(docs)
    return digest, [d["file_hash"] for d in docs]


def corpus_expectation(n_docs: int, seed: int, procs: int) -> dict:
    """Oracle digest of the whole ``gen_doc`` corpus [0, n_docs).

    Admission is corpus-global, so chunks may be computed apart only if no
    content hash spans two chunks; chunks are cut at multiples of 100
    (the generator's re-upload pairs sit inside one century) and the
    disjointness is checked, falling back to one pass otherwise.  The pool
    forks (call this before anything starts a thread): a spawned pool would
    leave multiprocessing's resource-tracker process running until this
    process has exited."""
    step = 1000
    chunks = [(seed, lo, min(lo + step, n_docs)) for lo in range(0, n_docs, step)]
    ctx = multiprocessing.get_context("fork")
    pool = ctx.Pool(procs)
    try:
        parts = pool.map(_chunk_expectation, chunks)
    finally:
        pool.close()
        pool.join()
    seen: set[str] = set()
    for _digest, hashes in parts:
        local = set(hashes)
        if seen & local:
            return _chunk_expectation((seed, 0, n_docs))[0]
        seen |= local
    total = empty_digest()
    for digest, _hashes in parts:
        total = add_digests(total, digest)
    return total


def _write_docs(path: str, docs: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pylist(docs, schema=corpus.arrow_schema()), path)


def _cached(cache_root: str, key: str, build) -> str:
    """Directory holding the inputs for ``key``; built once, atomically."""
    final = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(final, "meta.json")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


def load_meta(path: str) -> dict:
    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)


def backfill_inputs(cache_root: str, seed: int, n_docs: int, procs: int) -> str:
    """One corpus in the generator's default mix (five vendors, 5% unlabeled,
    1% byte-identical re-uploads, one 50-page doc per 500) as parquet, plus
    the oracle digest of a lineage job over all of it."""

    def build(d: str) -> None:
        meta = {"n_docs": n_docs, "expected": corpus_expectation(n_docs, seed, procs)}
        os.makedirs(os.path.join(d, "docs"))
        _write_docs(os.path.join(d, "docs", "part-00000.parquet"), corpus.gen_corpus(n_docs, seed))
        with open(os.path.join(d, "meta.json"), "w") as f:
            json.dump(meta, f)

    return _cached(cache_root, f"v{CACHE_VERSION}-backfill-s{seed}-n{n_docs}", build)


def ingest_inputs(
    cache_root: str, seed: int, history_docs: int, batch_docs: int, reuploads: int
) -> str:
    """A running ingest service's state and its next upload batch.

    ``history.parquet`` holds the doc_meta rows (doc_id, vendor, file_hash)
    the oracle admits from ``history_docs`` earlier uploads: what the
    service's compacted layout holds of them for the cross-batch dedup.
    ``batch.parquet`` is the next upload, ``batch_docs`` docs of which
    ``reuploads`` re-upload (under a new doc_id) content admitted earlier,
    so the cross-batch dedup must drop them.  ``expected`` is the oracle
    over the docs that survive that dedup; ``admitted_alone`` is how many
    docs the oracle admits from the batch without it."""

    def build(d: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        history = [corpus.gen_doc(i, seed) for i in range(history_docs)]
        admitted, _quarantine = oracle.route_and_admit(history)
        pq.write_table(
            pa.Table.from_pylist(
                [{c: x[c] for c in ("doc_id", "vendor", "file_hash")} for x in admitted]
            ),
            os.path.join(d, "history.parquet"),
        )
        known = {x["file_hash"] for x in admitted}
        rnd = random.Random(f"perfbench-ingest:{seed}")
        originals = {x["doc_id"]: x for x in history}
        end = history_docs + batch_docs - reuploads
        docs = [corpus.gen_doc(i, seed) for i in range(history_docs, end)]
        # Re-upload with the label the generator gave the original doc.
        for k, src in enumerate(rnd.sample(admitted, reuploads)):
            docs.append({**originals[src["doc_id"]], "doc_id": f"u{k:07d}"})
        digest, _admitted = oracle_expectation([x for x in docs if x["file_hash"] not in known])
        _write_docs(os.path.join(d, "batch.parquet"), docs)
        meta = {
            "n_docs": len(docs),
            "n_known": len(known),
            "expected": digest,
            "admitted_alone": len(oracle.route_and_admit(docs)[0]),
        }
        with open(os.path.join(d, "meta.json"), "w") as f:
            json.dump(meta, f)

    key = f"v{CACHE_VERSION}-ingest-s{seed}-h{history_docs}x{batch_docs}r{reuploads}"
    return _cached(cache_root, key, build)
