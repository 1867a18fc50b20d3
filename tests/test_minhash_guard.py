"""Hot-bucket guard for the MinHash+LSH candidate join: a mega-bucket
(many docs with identical token sets → identical signatures in every band)
must NOT explode into O(c²) pairs — it is excluded from pairing.

Exercised through ``datapipe._verified_edges`` (the near-dup clustering's
edge build) with ``cap=10``, so a 40-doc bucket is hot."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_parser_spark import datapipe
from pdf_parser_spark.analytics.queries import minhash_sigs

CAP = 10


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _edges(docs):
    return {(r["da"], r["db"]) for r in datapipe._verified_edges(docs, cap=CAP).collect()}


def _hot_buckets_per_band(docs):
    """(band → number of buckets over the cap), from the same per-(band,
    sig) counts the guard filters on."""
    counts = minhash_sigs(docs).groupBy("band", "sig").agg(F.count(F.lit(1)).alias("c"))
    hot = counts.where(F.col("c") > CAP).groupBy("band").count().collect()
    return {r["band"]: r["count"] for r in hot}


def test_mega_bucket_is_capped_and_reported(spark):
    # 40 identical docs (one bucket of 40 per band) + a near-dup pair +
    # one unrelated doc
    mega = [(i, "common boiler plate text shared by every page") for i in range(40)]
    near = [
        (108, "alpha beta gamma delta"),
        (109, "alpha beta gamma delta"),
        (102, "totally different words here"),
    ]
    docs = _docs(spark, mega + near)
    # the mega bucket would contribute 40*39/2 verified edges; only the
    # (108, 109) pair survives
    assert _edges(docs) == {(108, 109)}
    # the mega bucket is the one hot bucket in every band
    assert _hot_buckets_per_band(docs) == {b: 1 for b in range(4)}


def test_no_hot_buckets_below_cap(spark):
    rows = [(i, f"unique words w{i} x{i}") for i in range(6)] + [
        (18, "same same"),
        (19, "same same"),
    ]
    docs = _docs(spark, rows)
    assert _hot_buckets_per_band(docs) == {}
    assert (18, 19) in _edges(docs)
