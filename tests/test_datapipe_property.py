"""Property-based Spark-vs-DuckDB equality for the datapipe operators:
random documents tables (not just the driver's word-soup shapes) must
produce identical results from both engines.

Adversarial shapes: 1-word docs, exact 4/5-word n-gram boundaries,
byte-identical duplicate texts (forces LSH buckets + Jaccard 1.0 edges),
shared prefixes, uneven sources. Few examples — each runs six Spark
queries — but every example is a full two-engine differential."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pdf_parser_spark import datapipe as dp

VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]

OPS = [
    "stratified_sample",
    "pack_sequences",
    "dup_ngram_fraction",
    "gopher_quality",
    "bpe_token_count",
    "near_dup_components",
    # keep's correctness rests on the hash-min invariant (component label
    # == min doc_id of the cluster); the differential vs the closure
    # oracle's doc = min(lab) checks it on every random graph
    "near_dup_keep",
]


@st.composite
def docs_st(draw):
    n = draw(st.integers(4, 24))
    rows = []
    texts = []
    for i in range(n):
        if texts and draw(st.booleans()) and draw(st.booleans()):
            text = draw(st.sampled_from(texts))  # exact duplicate
        elif texts and draw(st.booleans()) and draw(st.booleans()):
            # shared span: an existing text embedded with fresh flanks —
            # the non-identical-doc duplicated-substring case ExactSubstr
            # exists for (flagged iff the base is >= 8 words)
            base = draw(st.sampled_from(texts))
            pre = draw(st.integers(0, 2))
            post = draw(st.integers(0, 2))
            text = " ".join(
                [draw(st.sampled_from(VOCAB)) for _ in range(pre)]
                + [base]
                + [draw(st.sampled_from(VOCAB)) for _ in range(post)]
            )
        else:
            k = draw(st.integers(1, 16))
            text = " ".join(draw(st.sampled_from(VOCAB)) for _ in range(k))
        texts.append(text)
        rows.append(
            {
                "doc_id": i,
                "text": text,
                "lang": draw(st.sampled_from(["en", "zh", "de"])),
                # the 15-digit suffix regression-tests the uncapped
                # substring(source, 4): an 8-char cap truncates it
                "source": f"src{draw(st.sampled_from([0, 1, 2, 3, 987654321054321]))}",
                "n_chars": len(text),
            }
        )
    return pd.DataFrame(rows)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pdf=docs_st())
def test_datapipe_differential_random(spark, tmp_path_factory, pdf):
    tmp = tmp_path_factory.mktemp("dpprop")
    pdf.to_parquet(tmp / "documents.parquet", index=False)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp / 'documents.parquet'}'"
    )
    for name in OPS:
        fn, sql = dp.DATAPIPE_QUERIES[name]
        if callable(sql):
            sql = sql("prop")
        want = con.execute(sql).fetchdf()
        cols = sorted(want.columns)
        got = (
            fn(spark, str(tmp))
            .toPandas()[cols]
            .astype(str)
            .sort_values(cols)
            .reset_index(drop=True)
        )
        want = want[cols].astype(str).sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(got, want, obj=name)
    # exact_substring_dedup's registered query reads the text fixture, so
    # fuzz the core function over the random table directly. Adversarial
    # here: docs under K=8 words (no grams at all), byte-identical dup
    # texts (every window flagged -> kept_text = ''), and an 8-word vocab
    # that makes accidental cross-doc 8-gram collisions likely.
    want = con.execute(dp._sql_exact_substring_body("documents")).fetchdf()
    cols = sorted(want.columns)
    got = (
        dp.exact_substring_dedup(
            spark.read.parquet(str(tmp / "documents.parquet"))
        )
        .toPandas()[cols]
        .astype(str)
        .sort_values(cols)
        .reset_index(drop=True)
    )
    want = want[cols].astype(str).sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, obj="exact_substring_dedup")
    # tfidf_top_terms over the same random table: the 8-word shared VOCAB
    # makes document frequencies collide hard (df near n for most tokens),
    # so the ranking rides the token tiebreak — exactly the boundary the
    # total order must hold on.
    from pdf_parser_spark.analytics.queries import ANALYTIC_QUERIES

    fn, sql = ANALYTIC_QUERIES["tfidf_top_terms"]
    want = con.execute(sql).fetchdf()
    cols = sorted(want.columns)
    got = (
        fn(spark, str(tmp))
        .toPandas()[cols]
        .astype(str)
        .sort_values(cols)
        .reset_index(drop=True)
    )
    want = want[cols].astype(str).sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, obj="tfidf_top_terms")


@st.composite
def events_st(draw):
    import datetime as dt

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    n = draw(st.integers(5, 40))
    rows = []
    for i in range(n):
        rows.append(
            {
                "event_id": i,
                # few users -> multi-session users; coarse minutes -> ties
                "user_id": draw(st.integers(1, 4)),
                "ts": base + dt.timedelta(minutes=draw(st.integers(0, 600))),
            }
        )
    return pd.DataFrame(rows)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pdf=events_st())
def test_event_sessions_differential_random(spark, tmp_path_factory, pdf):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parser_spark.analytics.queries import (
        SQL_EVENT_SESSIONS,
        q_event_sessions,
    )

    tmp = tmp_path_factory.mktemp("evprop")
    table = pa.Table.from_pandas(pdf, preserve_index=False).cast(
        pa.schema(
            [
                pa.field("event_id", pa.int64()),
                pa.field("user_id", pa.int64()),
                pa.field("ts", pa.timestamp("us")),
            ]
        )
    )
    pq.write_table(table, tmp / "events.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp / 'events.parquet'}'")
    want = con.execute(SQL_EVENT_SESSIONS).fetchdf()
    cols = sorted(want.columns)
    got = (
        q_event_sessions(spark, str(tmp))
        .toPandas()[cols]
        .astype(str)
        .sort_values(cols)
        .reset_index(drop=True)
    )
    want = want[cols].astype(str).sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)
