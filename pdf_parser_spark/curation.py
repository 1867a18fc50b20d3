"""Corpus-curation round-out operators with DuckDB oracles.

Seven operators a production corpus build / warehouse still needs that
the rest of the suite doesn't cover:

  * ``global_shuffle`` — deterministic seeded training-order shuffle:
    every doc gets a stable (shard, position) from portable integer
    hashes of doc_id, so the training order is reproducible across
    re-runs AND re-partitions (rand() is neither) and any shard can be
    regenerated independently. The within-shard ordering window is
    per-shard; shard count is chosen so a shard is task-sized
    (at 100 TB: n_shards ~ corpus_rows / 10^6, here 16).
  * ``incremental_minhash_pairs`` — snapshot-incremental LSH near-dup:
    when a daily batch lands on an already-deduped corpus, only pairs
    involving a NEW doc need checking — old-old pairs were decided in
    previous runs. The LSH bucket join therefore puts ONLY the new
    batch on the probe side, so the join cost scales with the batch,
    not the corpus: the core economics of incremental dedup at 100 TB.
    Count-first hot-bucket cap: buckets above ``MINHASH_BUCKET_CAP``
    members are excluded and reported per band.
  * ``score_calibration`` — reliability diagram for a model-based
    filter score: fixed-width buckets over the observed score range,
    per-bucket mean score vs empirical positive rate. The companion to
    ``score_auc`` (ranking quality) — calibration tells you whether a
    0.9 means 90%. All bucket arithmetic on the integer cent grid.
  * ``compact_small_files`` — output-file compaction planning: the
    small-file problem at 100 TB is real (a 10^6-file table with 10 KB
    files destroys scan throughput); this plans the coalesce by
    sequential cumulative-size bin packing over the file listing, a
    metadata-scale frame. Prefix sums ride the ``_global_prefix``
    two-phase device, so even a 10^8-file listing never single-tasks.
  * ``small_lot_revenue`` — TPC-H Q17's correlated aggregate subquery
    (rows below 20% of their group's average), decorrelated into ONE
    scan: per-partkey sufficient statistics (count, sum) as a window
    over the partkey partition (bounded by lines-per-part, never
    corpus-sized) and the 0.2·avg comparison done in exact BIGINT
    cross-multiplied form (5·qty·cnt < sum_qty) — no float avg, so
    both engines pick identical rows.
  * ``top_supplier_revenue`` — TPC-H Q15's view + scalar-subquery max:
    per-supplier revenue in a shipping quarter, suppliers matching the
    global maximum. Revenue accumulates as integer ten-thousandths
    (the rollup discipline) so the equality-to-max compare is exact; the
    1-row max broadcasts back onto the supplier frame.
  * ``market_share`` — TPC-H Q8's nation-market-share: the deepest join
    tree in the suite, with every dimension chain broadcast so the fact
    table shuffles exactly once (lineitem→orders on o_orderkey).

Reference parity: the reference's only corpus-order device is the
upload queue (extractor/views/core.py) and its dedup is exact-hash
(core.py:630-644); global_shuffle / incremental_minhash_pairs are the
training-data-pipeline extensions SURVEY.md §2.13 mandates, and the two
TPC-H shapes extend the §2.10 join/agg inventory with the correlated-
subquery plans Catalyst decorrelates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .analytics.queries import MINHASH_BUCKET_CAP, minhash_sigs

# Portable multiplicative hashes (datapipe._HASH_* discipline): doc_id is
# reduced mod 2^31-1 before the multiply so the product stays under 2^63 in
# both engines (JVM wraps silently, DuckDB raises — divergence exactly at
# scale). Two different odd multipliers give two independent streams: one
# picks the shard, one orders within the shard.
_PRE = 2147483647
_MULT_SHARD = 2654435761  # Knuth
_MULT_ORDER = 2246822519  # xxhash prime 2
_MOD = 4294967296

N_SHARDS = 16           # test-scale; 100 TB: corpus_rows / ~1e6
COMPACT_TARGET = 200_000  # chars per compacted output file (test-scale)
CAL_BUCKETS = 10


def _t(spark, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# global_shuffle
# ---------------------------------------------------------------------------


def q_global_shuffle(spark, sf_dir):
    """Deterministic training-order shuffle: (shard, pos) per doc.

    Plan: one scan computes both hash streams; one exchange on shard; the
    row_number window is per-shard, and a shard is a bounded unit by
    construction (n_shards scales with the corpus so shard size is the
    constant, the same sizing contract as ``pack_sequences``). doc_id
    breaks order-hash ties so the order is total and engine-independent.
    """
    docs = _t(spark, sf_dir, "documents")
    shard = ((F.col("doc_id") % _PRE) * _MULT_SHARD % _MOD % N_SHARDS).cast(
        "long"
    )
    okey = ((F.col("doc_id") % _PRE) * _MULT_ORDER % _MOD).cast("long")
    w = Window.partitionBy("shard").orderBy("okey", "doc_id")
    return (
        docs.select("doc_id", shard.alias("shard"), okey.alias("okey"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
    )


SQL_GLOBAL_SHUFFLE = f"""
SELECT doc_id,
       ((doc_id % {_PRE}) * {_MULT_SHARD} % {_MOD} % {N_SHARDS})::BIGINT AS shard,
       row_number() OVER (
         PARTITION BY (doc_id % {_PRE}) * {_MULT_SHARD} % {_MOD} % {N_SHARDS}
         ORDER BY (doc_id % {_PRE}) * {_MULT_ORDER} % {_MOD}, doc_id
       )::BIGINT AS pos
FROM documents
"""


# ---------------------------------------------------------------------------
# incremental_minhash_pairs
# ---------------------------------------------------------------------------

# The daily batch: docs whose id lands in the top fifth of the id ring.
# In production this is the snapshot boundary (ingest_date > watermark);
# here it must be a pure doc_id function so the oracle sees the same split.
_NEW_PRED = "doc_id % 10 >= 8"


def q_incremental_minhash_pairs(spark, sf_dir):
    """Incremental LSH candidate generation: new-batch docs vs corpus.

    Plan: signatures for all docs (one scan — in production the corpus
    side is the STORED signature table, not recomputed); bucket sizes
    count-first on the same (band, sig) key; only the new batch joins as
    probe side against cold buckets, so pair work is O(batch · bucket),
    never O(corpus²). new-new pairs ordered da < db; new-old pairs keep
    (new, old) orientation — each undecided pair appears exactly once.
    Hot buckets (> ``MINHASH_BUCKET_CAP`` members) are excluded and
    reported per band.
    """
    docs = _t(spark, sf_dir, "documents")
    # sigs feeds three plan subtrees (bucket counts, probe side, build
    # side) — barrier the token-explode + md5 signature lineage once so
    # it isn't recomputed per branch (same device as datapipe's
    # near-dup candidates, datapipe.py:1126).
    sigs = (
        minhash_sigs(docs.select("doc_id", "text"))
        .withColumn("is_new", F.expr(_NEW_PRED))
        .localCheckpoint(eager=False)
    )
    counts = sigs.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("c"))
    cold = counts.where(F.col("c") <= MINHASH_BUCKET_CAP).select("band", "sig")
    probe = (
        sigs.where("is_new")
        .join(cold, ["band", "sig"])
        .select("band", "sig", F.col("doc_id").alias("da"))
    )
    build = sigs.select(
        F.col("band").alias("band_b"),
        F.col("sig").alias("sig_b"),
        F.col("doc_id").alias("db"),
        F.col("is_new").alias("new_b"),
    )
    pairs = probe.join(
        build,
        (probe.band == build.band_b)
        & (probe.sig == build.sig_b)
        & (probe.da != build.db)
        # both-new pairs once (da < db); new-old pairs once, new side first
        & (~build.new_b | (probe.da < build.db)),
    )
    per_band = pairs.groupBy(F.col("band").cast("long").alias("band")).agg(
        F.sum(F.when(F.col("new_b"), 1).otherwise(0)).cast("long").alias("n_new_new"),
        F.sum(F.when(F.col("new_b"), 0).otherwise(1)).cast("long").alias("n_new_old"),
    )
    hot = counts.groupBy(F.col("band").cast("long").alias("band")).agg(
        F.sum(F.when(F.col("c") > MINHASH_BUCKET_CAP, 1).otherwise(0))
        .cast("long")
        .alias("n_hot_buckets"),
    )
    return per_band.join(hot, "band").select(
        "band", "n_new_new", "n_new_old", "n_hot_buckets"
    )


SQL_INCREMENTAL_MINHASH_PAIRS = f"""
WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
     sigs AS (SELECT doc_id, band, min(substr(md5(token), band * 8 + 1, 8)) AS sig
              FROM toks, (SELECT unnest(range(4)) AS band)
              GROUP BY doc_id, band),
     buckets AS (SELECT band, sig, count(*) AS c,
                        sum(CASE WHEN {_NEW_PRED} THEN 1 ELSE 0 END) AS c_new
                 FROM sigs GROUP BY band, sig)
SELECT band::BIGINT AS band,
       sum(CASE WHEN c <= {MINHASH_BUCKET_CAP}
                THEN (c_new * (c_new - 1)) // 2 ELSE 0 END)::BIGINT AS n_new_new,
       sum(CASE WHEN c <= {MINHASH_BUCKET_CAP}
                THEN c_new * (c - c_new) ELSE 0 END)::BIGINT AS n_new_old,
       sum(CASE WHEN c > {MINHASH_BUCKET_CAP} THEN 1 ELSE 0 END)::BIGINT AS n_hot_buckets
FROM buckets GROUP BY 1
HAVING sum(CASE WHEN c <= {MINHASH_BUCKET_CAP}
                THEN (c_new * (c_new - 1)) // 2 + c_new * (c - c_new)
           ELSE 0 END) > 0
"""


# ---------------------------------------------------------------------------
# score_calibration
# ---------------------------------------------------------------------------


def q_score_calibration(spark, sf_dir):
    """Reliability buckets for the purchase-propensity score (event
    ``value`` vs purchase label, the ``score_auc`` pairing).

    Plan: ONE corpus scan collapses events to the distinct-cent-score
    frame (score grid, not row count); min/max come from that tiny frame
    and broadcast back; the bucket aggregate runs on the same frame. No
    quantile machinery — fixed-width buckets over the observed range are
    deterministic in integer math, which percentile-based deciles are
    not across engines.
    """
    g = (
        _t(spark, sf_dir, "events")
        .select(
            F.round(F.col("value") * 100).cast("long").alias("s"),
            (F.col("event_type") == "purchase").cast("long").alias("pos"),
        )
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("pos").alias("np"))
    )
    rng = g.agg(
        F.min("s").alias("lo"), (F.max("s") - F.min("s") + 1).alias("span")
    )
    # Integer division end-to-end (`div`, not floor(double /)) — exact by
    # construction, matching the oracle's `//`, instead of exact only
    # while (s-lo)*CAL_BUCKETS stays under 2^53.
    bucket = F.expr(f"(s - lo) * {CAL_BUCKETS} div span")
    return (
        g.crossJoin(F.broadcast(rng))
        .groupBy(bucket.cast("long").alias("bucket"))
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.round(F.sum(F.col("s") * F.col("n")) / (100.0 * F.sum("n")), 6).alias(
                "mean_score"
            ),
            F.round(F.sum("np") / F.sum("n").cast("double"), 6).alias("frac_pos"),
        )
    )


SQL_SCORE_CALIBRATION = f"""
WITH g AS (
  SELECT round(value * 100)::BIGINT AS s, count(*) AS n,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
  FROM events GROUP BY 1
), rng AS (SELECT min(s) AS lo, max(s) - min(s) + 1 AS span FROM g)
SELECT ((s - lo) * {CAL_BUCKETS} // span)::BIGINT AS bucket,
       sum(n)::BIGINT AS n,
       round(sum(s * n) / (100.0 * sum(n)), 6) AS mean_score,
       round(sum(np) / sum(n)::DOUBLE, 6) AS frac_pos
FROM g, rng GROUP BY 1
"""


# ---------------------------------------------------------------------------
# compact_small_files
# ---------------------------------------------------------------------------


def q_compact_small_files(spark, sf_dir):
    """Sequential bin-packing compaction plan over the per-source file
    listing (one "file" per source, sized by its total chars — the
    metadata a table format's manifest supplies for free).

    Plan: the corpus collapses to the file listing in one aggregate;
    the cumulative size that drives bin assignment uses the
    ``_global_prefix`` two-phase device, so a 10^8-file listing still
    never funnels through one task. bin = floor(prefix / target) is the
    classic contiguous packing: preserves source order (locality) and
    every bin lands in [target, target + max_file) bytes.
    """
    from .datapipe import _global_prefix

    files = (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").alias("size_chars"))
    )
    pre = _global_prefix(spark, files, "size_chars", order_col="source")
    return pre.select(
        "source",
        F.col("size_chars").cast("long").alias("size_chars"),
        F.floor(F.col("_pre") / COMPACT_TARGET).cast("long").alias("file_bin"),
    )


SQL_COMPACT_SMALL_FILES = f"""
WITH files AS (
  SELECT source, sum(n_chars)::BIGINT AS size_chars
  FROM documents GROUP BY source
)
SELECT source, size_chars,
       (COALESCE(sum(size_chars) OVER (
          ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ), 0) // {COMPACT_TARGET})::BIGINT AS file_bin
FROM files
"""


# ---------------------------------------------------------------------------
# small_lot_revenue (TPC-H Q17 shape)
# ---------------------------------------------------------------------------

_Q17_BRAND = "Brand#1"


def q_small_lot_revenue(spark, sf_dir):
    """Q17: revenue lost to small-lot orders — lineitems of one brand's
    parts whose quantity is below 20% of that part's average quantity.

    Plan: Catalyst's decorrelation of the correlated avg subquery would
    scan lineitem twice (aggregate + join back); instead the per-partkey
    (count, sum) ride a window over the partkey partition — bounded by
    lines-per-part (~30 at any scale), ONE lineitem scan, ONE exchange.
    The brand dim broadcast-prunes before the exchange. The 0.2·avg
    threshold compares in cross-multiplied BIGINT (5·qty·cnt < Σqty):
    no float average, so the row set is bit-identical across engines.
    """
    part = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_brand") == _Q17_BRAND)
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
    )
    w = Window.partitionBy("l_partkey")
    filtered = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .withColumn("cnt", F.count(F.lit(1)).over(w))
        .withColumn("sum_q", F.sum("qty").over(w))
        .where(F.col("qty") * 5 * F.col("cnt") < F.col("sum_q"))
    )
    return filtered.agg(
        F.count(F.lit(1)).cast("long").alias("n_small_lots"),
        F.round(F.sum("price_c") / 700.0, 2).alias("avg_yearly"),
    )


SQL_SMALL_LOT_REVENUE = f"""
WITH li AS (
  SELECT l_partkey, l_quantity::BIGINT AS qty,
         round(l_extendedprice * 100)::BIGINT AS price_c
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = '{_Q17_BRAND}')
), st AS (
  SELECT *, count(*) OVER (PARTITION BY l_partkey) AS cnt,
         sum(qty) OVER (PARTITION BY l_partkey) AS sum_q
  FROM li
)
SELECT count(*)::BIGINT AS n_small_lots,
       round(sum(price_c) / 700.0, 2) AS avg_yearly
FROM st WHERE qty * 5 * cnt < sum_q
"""


# ---------------------------------------------------------------------------
# top_supplier_revenue (TPC-H Q15 shape)
# ---------------------------------------------------------------------------

_Q15_LO = "1996-01-01"
_Q15_HI = "1996-04-01"


def q_top_supplier_revenue(spark, sf_dir):
    """Q15: the supplier(s) with maximum revenue in a shipping quarter.

    Plan: one date-pruned lineitem scan → per-supplier hash aggregate in
    integer ten-thousandths (exact, so equality-to-max cannot be broken
    by summation order); the 1-row global max broadcasts back; the
    supplier dim broadcast-joins for the name. Scalar subquery + view of
    Q15 expressed as two broadcasts over one aggregate — no second
    corpus scan, no window.
    """
    li = (
        _t(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit(_Q15_LO))
            & (F.col("l_shipdate") < F.lit(_Q15_HI))
        )
        .select(
            "l_suppkey",
            F.round(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
                * 10000
            )
            .cast("long")
            .alias("rev_e4"),
        )
    )
    rev = li.groupBy("l_suppkey").agg(F.sum("rev_e4").alias("rev_e4"))
    mx = rev.agg(F.max("rev_e4").alias("mx"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("rev_e4") == F.col("mx"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            F.round(F.col("rev_e4") / 10000.0, 2).alias("total_revenue"),
        )
    )


SQL_TOP_SUPPLIER_REVENUE = f"""
WITH rev AS (
  SELECT l_suppkey,
         sum(round(round(l_extendedprice * (1 - l_discount), 4) * 10000)::BIGINT)
           AS rev_e4
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{_Q15_LO}' AND l_shipdate < TIMESTAMP '{_Q15_HI}'
  GROUP BY l_suppkey
)
SELECT s_suppkey::BIGINT AS s_suppkey, s_name,
       round(rev_e4 / 10000.0, 2) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_e4 = (SELECT max(rev_e4) FROM rev)
"""


# ---------------------------------------------------------------------------
# market_share (TPC-H Q8 shape)
# ---------------------------------------------------------------------------

_Q8_REGION = "ASIA"
_Q8_TYPE = "STANDARD"
_Q8_NATION = "NATION_3"
_Q8_LO = "1995-01-01"
_Q8_HI = "1997-01-01"


def q_market_share(spark, sf_dir):
    """Q8: one nation's share of a region's market for one part type,
    per order year — the deepest join tree in the suite (lineitem ×
    orders × customer × nation × region × part × supplier × nation).

    Plan: every dimension chain broadcasts (nations-in-region and
    type-filtered part prune *before* touching the fact side; supplier
    carries only a boolean "is the target nation"), so lineitem→orders
    is the ONLY shuffle join, on the natural o_orderkey key. The
    conditional share aggregates integer ten-thousandths and rounds
    once — Q8's `when nation then volume else 0` form, exact across
    engines regardless of summation order.
    """
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == _Q8_REGION)
    mkt_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("mkt_nk"))
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(mkt_nations), F.col("c_nationkey") == F.col("mkt_nk"))
        .select("c_custkey")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit(_Q8_LO))
            & (F.col("o_orderdate") < F.lit(_Q8_HI))
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", F.year("o_orderdate").alias("o_year"))
    )
    part = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_type") == _Q8_TYPE)
        .select("p_partkey")
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(
            nation.select(F.col("n_nationkey").alias("s_nk"), "n_name")
        ),
        F.col("s_nationkey") == F.col("s_nk"),
    ).select("s_suppkey", (F.col("n_name") == _Q8_NATION).alias("is_target"))
    li = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "l_orderkey",
            "is_target",
            F.round(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
                * 10000
            )
            .cast("long")
            .alias("rev_e4"),
        )
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("o_year").cast("long").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("is_target"), F.col("rev_e4")).otherwise(0)).alias(
                "target_e4"
            ),
            F.sum("rev_e4").alias("total_e4"),
        )
        .select(
            "o_year",
            F.round(F.col("target_e4") / F.col("total_e4").cast("double"), 6).alias(
                "mkt_share"
            ),
            F.round(F.col("total_e4") / 10000.0, 2).alias("total_revenue"),
        )
    )


SQL_MARKET_SHARE = f"""
WITH vol AS (
  SELECT year(o_orderdate) AS o_year,
         CASE WHEN n2.n_name = '{_Q8_NATION}' THEN 1 ELSE 0 END AS is_target,
         round(round(l_extendedprice * (1 - l_discount), 4) * 10000)::BIGINT
           AS rev_e4
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = '{_Q8_REGION}' AND p_type = '{_Q8_TYPE}'
    AND o_orderdate >= TIMESTAMP '{_Q8_LO}'
    AND o_orderdate < TIMESTAMP '{_Q8_HI}'
)
SELECT o_year::BIGINT AS o_year,
       round(sum(is_target * rev_e4) / sum(rev_e4)::DOUBLE, 6) AS mkt_share,
       round(sum(rev_e4) / 10000.0, 2) AS total_revenue
FROM vol GROUP BY 1
"""


# -- streaming twin of incremental_minhash_pairs ----------------------------


def corpus_sig_buckets(spark, sf_dir: str) -> DataFrame:
    """Static side of the streaming incremental dedup: the stored
    signature table of the already-deduped corpus (old docs), restricted
    to buckets that are cold BY CORPUS COUNT. In production this is a
    maintained table, rebuilt only when the corpus snapshot rolls; the
    stream job just loads it. The hot-bucket guard necessarily counts
    only the corpus side here (a stream cannot know future batch
    contents); the batch query's corpus+batch count is the
    reconciliation run's stricter guard."""
    docs = _t(spark, sf_dir, "documents").where(f"NOT ({_NEW_PRED})")
    sigs = minhash_sigs(docs.select("doc_id", "text"))
    counts = sigs.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("c"))
    cold = counts.where(F.col("c") <= MINHASH_BUCKET_CAP).select("band", "sig")
    return sigs.join(cold, ["band", "sig"]).select(
        "band", "sig", F.col("doc_id").alias("corpus_doc_id")
    )


def stream_minhash_candidates(new_docs: DataFrame, corpus_buckets: DataFrame) -> DataFrame:
    """Streaming twin of ``q_incremental_minhash_pairs``'s new-old path:
    per incoming document, its LSH candidate matches in the corpus.

    The per-doc band signatures are computed IN-ROW (array_min over a
    transform of the distinct-token array — a non-windowed groupBy is
    illegal in an append stream, and this form needs none), then one
    stateless explode to (band, sig) rows and a stream-static inner
    join against the corpus bucket table. Append mode, zero state: the
    streaming cost per doc is its token array plus a broadcast-join
    probe — the per-doc analogue of the batch probe side. The identical
    plan runs on a batch frame, which is how the pytest pins
    equivalence, and the in-row signature is pinned equal to the
    aggregate-form ``minhash_sigs`` on the same docs."""
    toks = F.array_distinct(F.split("text", " "))

    def band_sig(b: int):
        # arity-1 lambda: a 2-arg lambda would make transform() pass the
        # ARRAY INDEX as the second argument and clobber the band constant
        start = b * 8 + 1
        return F.array_min(
            F.transform(toks, lambda t: F.substring(F.md5(t), start, 8))
        )

    bands = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"), band_sig(b).alias("sig")
            )
            for b in range(4)
        ]
    )
    exploded = new_docs.select(
        F.col("doc_id"), F.explode(bands).alias("bs")
    ).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )
    return exploded.join(corpus_buckets, ["band", "sig"]).select(
        "doc_id", "corpus_doc_id", F.col("band").cast("long").alias("band")
    )


CURATION_QUERIES: dict[str, tuple] = {
    "global_shuffle": (q_global_shuffle, SQL_GLOBAL_SHUFFLE),
    "incremental_minhash_pairs": (
        q_incremental_minhash_pairs,
        SQL_INCREMENTAL_MINHASH_PAIRS,
    ),
    "score_calibration": (q_score_calibration, SQL_SCORE_CALIBRATION),
    "compact_small_files": (q_compact_small_files, SQL_COMPACT_SMALL_FILES),
    "small_lot_revenue": (q_small_lot_revenue, SQL_SMALL_LOT_REVENUE),
    "top_supplier_revenue": (q_top_supplier_revenue, SQL_TOP_SUPPLIER_REVENUE),
    "market_share": (q_market_share, SQL_MARKET_SHARE),
}
