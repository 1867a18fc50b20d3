"""Distributed BPE tokenizer training (bounded merge rounds).

The tokenizer itself is part of the pipeline: before a corpus ships,
its tokenizer is (re)trained on a sample — byte-pair encoding (Sennrich
et al. 2016): start from characters, repeatedly merge the most frequent
adjacent symbol pair. The distributed shape:

  * the unit of work is the WORD-TYPE frame (distinct word, corpus
    frequency) — pair statistics are frequency-weighted sums over word
    types, so a word appearing 10^9 times costs one row, and at 100 TB
    the frame is the multi-million-type vocabulary, not the corpus;
  * one merge round = one explode of adjacent symbol pairs + one
    map-side-combined weighted count + a global top-1
    (TakeOrderedAndProject: per-task 1-row heaps, count-desc with
    lexicographic tiebreak so the winner is engine/partition-order
    independent) — the ONLY driver traffic is that single winning row
    per round (the near_dup_components convergence-scalar discipline);
  * the merge is applied to every symbol array in-row with an
    ``aggregate`` fold that walks the array left-to-right, replacing
    (a,b) with the fused symbol and skipping the consumed position —
    the canonical leftmost-first BPE application, no UDF;
  * per-round ``localCheckpoint`` truncates the lineage so round t does
    not replay rounds 1..t-1.

Output: the merge table (round, left symbol, right symbol, weighted
pair count) — N_MERGES rows, the artifact a tokenizer build persists.

Verification: BPE's iterative argmax+rewrite is not expressible as a
direct DuckDB query, so this op uses the PIPELINE oracle pattern
(driver_contract.PIPELINE_QUERIES): an independent pure-Python BPE
reference (`py_bpe_merges`) materializes the expected merge table to
parquet and the oracle SQL reads it — Spark's distributed fold is
checked row-for-row against a from-scratch sequential implementation,
exactly how extract_*/report_* are checked.
"""

from __future__ import annotations

import os
from collections import Counter

from pyspark.sql import functions as F

from .datapipe import CACHE_DIR

BPE_VER = "b1"
N_MERGES = 12


# -- pure-Python reference (the oracle side) --------------------------------


def py_bpe_merges(word_freqs: dict[str, int], n_merges: int = N_MERGES):
    """Sequential BPE reference: returns [(round, left, right, count)].
    Tiebreak on equal counts: lexicographic (left, right) — mirrored by
    the Spark top-1 ordering."""
    syms = {w: list(w) for w in word_freqs}
    merges = []
    for t in range(n_merges):
        pairs: Counter = Counter()
        for w, freq in word_freqs.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += freq
        if not pairs:
            break
        (left, right), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((t, left, right, cnt))
        fused = left + right
        for w in syms:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i < len(s) - 1 and s[i] == left and s[i + 1] == right:
                    out.append(fused)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges


def expected_bpe_path(sf: str) -> str:
    return str(CACHE_DIR / f"bpe_expected_{BPE_VER}_sf{sf}.parquet")


def ensure_bpe_expected(sf: str) -> None:
    """Materialize the reference merge table for the driver's testdata
    documents at this sf (pure Python + pyarrow read — no Spark)."""
    CACHE_DIR.mkdir(exist_ok=True)
    if os.path.exists(expected_bpe_path(sf)):
        return
    import duckdb
    import pandas as pd

    wf = duckdb.sql(
        "SELECT token, count(*) AS f FROM (SELECT unnest(string_split(text,"
        f" ' ')) AS token FROM read_parquet('/root/testdata/sf{sf}"
        "/documents.parquet')) GROUP BY token"
    ).df()
    merges = py_bpe_merges(dict(zip(wf["token"], wf["f"].astype(int))))
    pd.DataFrame(
        merges, columns=["round", "left", "right", "pair_count"]
    ).astype({"round": "int64", "pair_count": "int64"}).to_parquet(
        expected_bpe_path(sf), index=False
    )


# -- Spark side --------------------------------------------------------------


def _merge_fold(left: str, right: str):
    """In-row leftmost-first application of one merge to a `syms` array."""
    l, r = left.replace("'", "\\'"), right.replace("'", "\\'")
    return F.expr(
        f"""
        aggregate(
          sequence(0, size(syms) - 1),
          named_struct('out', cast(array() as array<string>), 'skip', false),
          (acc, i) -> CASE
            WHEN acc.skip THEN named_struct('out', acc.out, 'skip', false)
            WHEN i < size(syms) - 1 AND syms[i] = '{l}'
                 AND syms[i + 1] = '{r}'
              THEN named_struct('out', array_append(acc.out, '{l}{r}'),
                                'skip', true)
            ELSE named_struct('out', array_append(acc.out, syms[i]),
                              'skip', false)
          END,
          acc -> acc.out)
        """
    )


def q_bpe_train(spark, sf_dir):
    """N_MERGES rounds of distributed BPE; returns the merge table."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    types = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .select(F.split("w", "").alias("syms"), "f")
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=False)
    )
    merges = []
    for t in range(N_MERGES):
        pair_idx = F.when(
            F.size("syms") >= 2, F.sequence(F.lit(0), F.size("syms") - 2)
        ).otherwise(F.expr("array()").cast("array<int>"))
        pairs = types.select(
            "f", F.explode(pair_idx).alias("i"), "syms"
        ).select(
            F.expr("syms[i]").alias("left"),
            F.expr("syms[i + 1]").alias("right"),
            "f",
        )
        top = (
            pairs.groupBy("left", "right")
            .agg(F.sum("f").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "left", "right")
            .limit(1)
            .collect()
        )
        if not top:
            break
        row = top[0]
        merges.append(
            (t, row["left"], row["right"], int(row["pair_count"]))
        )
        types = types.select(
            _merge_fold(row["left"], row["right"]).alias("syms"), "f"
        ).localCheckpoint(eager=False)
    return spark.createDataFrame(
        merges, "round long, left string, right string, pair_count long"
    )


def _sql_bpe_train(sf: str) -> str:
    ensure_bpe_expected(sf)
    return f"SELECT * FROM read_parquet('{expected_bpe_path(sf)}')"


# -- bpe_encode: apply the trained merge table corpus-wide -------------------


def py_bpe_encode_len(word: str, merges) -> int:
    """Sequential reference: number of symbols after applying the merge
    table in round order (same leftmost-first single pass per round as
    py_bpe_merges' rewrite step)."""
    s = list(word)
    for _t, left, right, _c in merges:
        out, i = [], 0
        while i < len(s):
            if i < len(s) - 1 and s[i] == left and s[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(s[i])
                i += 1
        s = out
    return len(s)


def expected_wordlen_path(sf: str) -> str:
    return str(CACHE_DIR / f"bpe_wordlen_{BPE_VER}_sf{sf}.parquet")


def ensure_bpe_wordlen(sf: str) -> None:
    """Materialize (word, n_sym) for every distinct corpus word via the
    sequential reference encoder over the reference merge table."""
    CACHE_DIR.mkdir(exist_ok=True)
    if os.path.exists(expected_wordlen_path(sf)):
        return
    import duckdb
    import pandas as pd

    ensure_bpe_expected(sf)
    merges = pd.read_parquet(expected_bpe_path(sf)).itertuples(
        index=False, name=None
    )
    merges = list(merges)
    words = duckdb.sql(
        "SELECT DISTINCT token FROM (SELECT unnest(string_split(text, ' '))"
        f" AS token FROM read_parquet('/root/testdata/sf{sf}"
        "/documents.parquet'))"
    ).df()["token"]
    pd.DataFrame(
        {"w": words, "n_sym": [py_bpe_encode_len(w, merges) for w in words]}
    ).astype({"n_sym": "int64"}).to_parquet(
        expected_wordlen_path(sf), index=False
    )


def q_bpe_encode(spark, sf_dir):
    """Tokenizer APPLICATION at corpus scale — the production twin of
    ``bpe_train``: given the persisted merge table (the tokenizer
    artifact), report per-document BPE token counts.

    Scale shape: the expensive rewrite runs on the distinct WORD-TYPE
    frame (encode each word once — O(vocab), not O(corpus); a
    10^9-occurrence word is rewritten once), one staged projection per
    merge round with a localCheckpoint barrier (the bpe_train device —
    12 nested folds in one collapsed projection is a Janino hazard).
    Documents then explode to words and broadcast-join the (word, n_sym)
    map back — at 100 TB the multi-million-type vocab frame is tens of
    MB, still broadcastable; nothing corpus-sized shuffles.

    Verification: Spark's fold-chain rewrite vs the sequential Python
    encoder (`py_bpe_encode_len`) over the same merge table, joined back
    per doc by pure SQL — the fold machinery itself is the thing
    differentially tested (bpe_train already proves the merge table)."""
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    ensure_bpe_expected(sf)
    merges = (
        spark.read.parquet(expected_bpe_path(sf))
        .orderBy("round")
        .collect()
    )  # the tokenizer artifact: N_MERGES rows of driver traffic, as in prod
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    types = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .distinct()
        .select("w", F.split("w", "").alias("syms"))
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=False)
    )
    for row in merges:
        types = types.select(
            "w", _merge_fold(row["left"], row["right"]).alias("syms")
        ).localCheckpoint(eager=False)
    word_len = types.select("w", F.size("syms").cast("long").alias("n_sym"))
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .join(F.broadcast(word_len), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("ws_tokens"),
            F.sum("n_sym").alias("bpe_tokens"),
        )
        .select(
            "doc_id",
            "ws_tokens",
            "bpe_tokens",
            F.round(F.col("bpe_tokens") / F.col("ws_tokens"), 4).alias(
                "bpe_per_word"
            ),
        )
    )


def _sql_bpe_encode(sf: str) -> str:
    ensure_bpe_wordlen(sf)
    return f"""
WITH e AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
)
SELECT doc_id, count(*)::BIGINT AS ws_tokens,
       SUM(wl.n_sym)::BIGINT AS bpe_tokens,
       round(SUM(wl.n_sym) * 1.0 / count(*), 4) AS bpe_per_word
FROM e JOIN read_parquet('{expected_wordlen_path(sf)}') wl ON e.w = wl.w
GROUP BY doc_id
"""


BPE_QUERIES = {
    "bpe_train": (q_bpe_train, _sql_bpe_train),
    "bpe_encode": (q_bpe_encode, _sql_bpe_encode),
}
