"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet fixtures, then compares row count, sorted
column names, and an order-insensitive value hash (rows stringified,
columns sorted by name, rows sorted). Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_kafka_ek_spark.session import get_spark
from data_pipeline_kafka_ek_spark.sources.tables import TABLES


def _normalize_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_normalize_cell(x) for x in v) + "]"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "|".join(_normalize_cell(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# Local-only oracles: queries whose Spark plan uses a hash family plain SQL
# lacks get a DuckDB Python-UDF twin HERE (the driver's oracle runner has no
# UDF channel, so their registered oracle stays None / rows-only there; this
# gate still hash-checks them end to end).
# ---------------------------------------------------------------------------

# xxhash64 twin of _MINHASH_CTES (plans/extensions.py): identical pipeline,
# the two UDFs replay Spark's seed-chained xxhash64 bit-for-bit
# (tools/spark_xxh64.py, validated against Spark in tests/test_xxh64_twin.py)
LOCAL_ONLY_ORACLES = {
    "x_dedup_minhash_xxh": """
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok
      FROM documents
    ),
    hmin AS (
      SELECT doc_id,
        min(spark_xxh64_tok(0, tok)) h0, min(spark_xxh64_tok(1, tok)) h1,
        min(spark_xxh64_tok(2, tok)) h2, min(spark_xxh64_tok(3, tok)) h3,
        min(spark_xxh64_tok(4, tok)) h4, min(spark_xxh64_tok(5, tok)) h5,
        min(spark_xxh64_tok(6, tok)) h6, min(spark_xxh64_tok(7, tok)) h7
      FROM toks GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band_idx, spark_xxh64_band(h0, h1) AS band_val FROM hmin
      UNION ALL SELECT doc_id, 1, spark_xxh64_band(h2, h3) FROM hmin
      UNION ALL SELECT doc_id, 2, spark_xxh64_band(h4, h5) FROM hmin
      UNION ALL SELECT doc_id, 3, spark_xxh64_band(h6, h7) FROM hmin
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                   AND a.doc_id < b.doc_id
    ),
    sets AS (SELECT doc_id, list_distinct(string_split(text,' ')) s FROM documents)
    SELECT c.doc_a, c.doc_b,
           round(len(list_intersect(x.s,y.s))*1.0
                 / len(list_distinct(list_concat(x.s,y.s))), 4) AS jaccard_sim
    FROM cand c JOIN sets x ON c.doc_a = x.doc_id JOIN sets y ON c.doc_b = y.doc_id
    WHERE len(list_intersect(x.s,y.s))*1.0
          / len(list_distinct(list_concat(x.s,y.s))) >= 0.8
    """,
}


def register_local_udfs(con) -> None:
    """Register the Spark-twin hash UDFs on a DuckDB connection."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from spark_xxh64 import xxhash64_int_str, xxhash64_longs

    con.create_function(
        "spark_xxh64_tok",
        lambda i, tok: xxhash64_int_str(i, tok),
        ["INTEGER", "VARCHAR"],
        "BIGINT",
    )
    con.create_function(
        "spark_xxh64_band",
        lambda a, b: xxhash64_longs(a, b),
        ["BIGINT", "BIGINT"],
        "BIGINT",
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # SPARK_GRAFT_CHECK_JOBS=N runs N queries concurrently (Spark handles
    # concurrent actions on one session; each worker thread gets its OWN
    # DuckDB connection — connections are not thread-safe). Default 1 =
    # byte-identical behavior and output order to the sequential gate.
    jobs = max(1, int(os.environ.get("SPARK_GRAFT_CHECK_JOBS", "1")))

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    if os.environ.get("SPARK_GRAFT_VANILLA") == "1":
        # replicate the driver's conditions exactly: a bare session with no
        # engine configs — every query must be self-contained
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
    else:
        spark = get_spark("check_correctness")

    import threading

    tl = threading.local()

    def _con():
        if getattr(tl, "con", None) is None:
            c = duckdb.connect()
            register_local_udfs(c)
            for t in TABLES:
                c.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')"
                )
            tl.con = c
        return tl.con

    # splice in the local-only UDF oracles for entries the driver can only
    # rows-check (their registered oracle is None)
    for name, sql in LOCAL_ONLY_ORACLES.items():
        oracles.setdefault(name, sql)

    def check_one(name, fn) -> "tuple[list[str], bool]":
        out: list[str] = []
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = list(sdf.columns)
        spark_s = time.time() - t0
        if name not in oracles:
            out.append(
                f"  {name:35s} rows-only: {len(srows):7d} rows  ({spark_s:.1f}s)"
            )
            return out, False
        t0 = time.time()
        rel = _con().sql(oracles[name])
        ocols = list(rel.columns)
        orows = rel.fetchall()
        duck_s = time.time() - t0
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(ocols)}")
        if not problems:
            sh, oh = value_hash(scols, srows), value_hash(ocols, orows)
            if sh != oh:
                problems.append(f"hash spark={sh} duck={oh}")
                # show a diff sample
                sset = {
                    "|".join(
                        _normalize_cell(r[i])
                        for i in sorted(range(len(scols)), key=lambda i: scols[i])
                    )
                    for r in srows
                }
                oset = {
                    "|".join(
                        _normalize_cell(r[i])
                        for i in sorted(range(len(ocols)), key=lambda i: ocols[i])
                    )
                    for r in orows
                }
                for x in list(sset - oset)[:2]:
                    out.append(f"      spark-only: {x[:160]}")
                for x in list(oset - sset)[:2]:
                    out.append(f"      duck-only:  {x[:160]}")
        status = "OK " if not problems else "FAIL"
        out.append(
            f"  {name:35s} {status} {len(srows):7d} rows  "
            f"(spark {spark_s:.1f}s, duck {duck_s:.1f}s)"
            + ("  " + "; ".join(problems) if problems else "")
        )
        return out, bool(problems)

    from data_pipeline_kafka_ek_spark.caching import release_pending_caches

    todo = [(n, f) for n, f in qs.items() if not only or n in only]
    failures = []
    if jobs == 1:
        for name, fn in todo:
            lines, failed = check_one(name, fn)
            # sequential mode: drain the query's persisted intermediates
            # now that its rows are collected (caching.py — a 190-query
            # run must not pin every token-set/posting relation at once)
            release_pending_caches()
            print("\n".join(lines))
            if failed:
                failures.append(name)
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=jobs) as pool:
            results = list(pool.map(lambda nf: check_one(*nf), todo))
        # concurrent mode: draining mid-run could unpersist a cache an
        # in-flight sibling is still reading (safe but wasteful — it
        # would recompute); drain once after the pool joins
        release_pending_caches()
        for (name, _), (lines, failed) in zip(todo, results):
            print("\n".join(lines))
            if failed:
                failures.append(name)

    print()
    total = len(todo)
    print(f"{total - len(failures)}/{total} queries match")
    if failures:
        print("FAILURES:", ", ".join(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
