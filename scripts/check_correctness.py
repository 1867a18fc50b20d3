"""Driver-mimicking correctness harness: run every queries() entry on Spark
and its oracle_sql() on DuckDB, compare row count + column names +
order-insensitive value hash. Usage:

    python scripts/check_correctness.py [--json OUT.json] [sf_dir] [query ...]

``--json`` additionally writes the results in the driver's
CORRECTNESS_r{N}.json schema (rows_match/schema_match/hash_match/
spark_rows/oracle_rows/err per query) — used to record the supplement for
queries that overflow the driver's ~50-entry artifact cap.
"""

from __future__ import annotations

import hashlib
import math
import sys
import time

sys.path.insert(0, ".")


def canon_value(v) -> str:
    if v is None:
        return "<null>"
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def frame_hash(pdf) -> tuple[int, list[str], str]:
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(canon_value(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.md5("\n".join(rows).encode()).hexdigest()
    return len(pdf), cols, h


def main():
    args = sys.argv[1:]
    json_out = None
    if args and args[0] == "--json":
        json_out = args[1]
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import duckdb

    import __spark_entry__ as entrymod
    from pdf_parser_spark.session import get_spark

    spark = get_spark(cores=8, app_name="check_correctness", shuffle_partitions=16)
    qs, osql = entrymod.queries(), entrymod.oracle_sql()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    records: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            records[name] = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "spark_rows": None,
                "oracle_rows": None,
                "err": f"spark {type(e).__name__}: {e}",
            }
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        sql = osql[name]
        try:
            want = con.sql(sql).df()
        except Exception as e:
            failures.append(name)
            records[name] = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "spark_rows": len(got),
                "oracle_rows": None,
                "err": f"duckdb {type(e).__name__}: {e}",
            }
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            continue
        gn, gc, gh = frame_hash(got)
        wn, wc, wh = frame_hash(want)
        ok = (gn, gc, gh) == (wn, wc, wh)
        records[name] = {
            "rows_match": gn == wn,
            "schema_match": gc == wc,
            "hash_match": gh == wh,
            "spark_rows": gn,
            "oracle_rows": wn,
            "err": None,
        }
        status = "ok  " if ok else "FAIL"
        print(
            f"{status} {name}: spark {gn} rows / duck {wn} rows, "
            f"cols {'=' if gc == wc else f'{gc} vs {wc}'}, hash "
            f"{'=' if gh == wh else f'{gh[:8]} vs {wh[:8]}'} ({time.time()-t0:.1f}s)"
        )
        if not ok:
            failures.append(name)

    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(records, f, indent=1)
        print(f"wrote {json_out}")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
