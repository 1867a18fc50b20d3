"""Hot-bucket guard for the MinHash+LSH candidate join: a mega-bucket
(many docs with identical token sets → identical signatures in every band)
must NOT explode into O(c²) pairs — it is excluded from pairing and
surfaced in the hot-bucket column instead.

Exercised through ``curation.q_incremental_minhash_pairs`` with the cap
lowered, so a 40-doc bucket is hot. Docs with ``doc_id % 10 >= 8`` are
the new batch (``curation._NEW_PRED``)."""

from __future__ import annotations

from pdf_parser_spark import curation


def _pairs(spark, tmp_path, rows):
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    return curation.q_incremental_minhash_pairs(spark, str(tmp_path)).collect()


def test_mega_bucket_is_capped_and_reported(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(curation, "MINHASH_BUCKET_CAP", 10)
    # 40 identical docs (one bucket of 40 per band, 8 of them new) + a
    # new-new near-dup pair + one unrelated doc
    mega = [(i, "common boiler plate text shared by every page") for i in range(40)]
    near = [
        (108, "alpha beta gamma delta"),
        (109, "alpha beta gamma delta"),
        (102, "totally different words here"),
    ]
    out = _pairs(spark, tmp_path, mega + near)
    assert out, "sub-cap buckets must still pair"
    for r in out:
        # the mega bucket would contribute 8*7/2 new-new and 8*32 new-old
        # pairs per band; only the (108, 109) pair survives
        assert (r["n_new_new"], r["n_new_old"]) == (1, 0)
        assert r["n_hot_buckets"] == 1


def test_no_hot_buckets_below_cap(spark, tmp_path):
    rows = [(i, f"unique words w{i} x{i}") for i in range(6)] + [
        (18, "same same"),
        (19, "same same"),
    ]
    out = _pairs(spark, tmp_path, rows)
    assert out
    assert all(r["n_hot_buckets"] == 0 for r in out)
    assert any(r["n_new_new"] >= 1 for r in out)
