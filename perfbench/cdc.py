"""``cdc_merge``: a single-client CDC applier against ``TxnLogTable``.

Closed loop, the way a ``foreachBatch`` applier waits for each commit. The
table is seeded from ``customer`` with ``change_feed=True``. Each iteration
lands a Debezium-style change batch (mostly updates, some inserts and
deletes, strictly increasing order column) as a parquet file, then times
``merge(..., delete_col=...)``, a snapshot ``read()`` aggregate and a
``read_changes(v-1)`` feed read, each materialized through the noop sink.
The final ``read()`` is checked against a latest-per-key fold of the seed
and every landing file.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from urllib.parse import urlparse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import accounting as acc
import datagen
from harness import interval_union_ms, job_interval_ms, noop_write

N_SEED = 15_000  # customer rows at the sf0.1 shape
BATCH_ROWS = 500
SHARE_INSERT, SHARE_DELETE = 0.15, 0.15
CHECKPOINT_INTERVAL = 2  # warm-up commit v1, timed v2-v4: checkpoints at v2 and v4
WARM_ITERS = 1  # fixed; the timed phase starts after exactly this many
NOMINAL_ITER_S = 3.0  # one timed iteration on a 4-core box; sizes the timed phase


class ChangeFeed:
    """Seeded Debezium-style change batches over a live key set."""

    def __init__(self, rng, n_seed: int):
        self.rng = rng
        self.live = np.arange(n_seed, dtype=np.int64)
        self.next_key = n_seed
        self.seq = 0

    def batch(self, n: int) -> pa.Table:
        rng = self.rng
        n_ins = int(n * SHARE_INSERT)
        n_del = int(n * SHARE_DELETE)
        n_upd = n - n_ins - n_del
        pick = rng.choice(len(self.live), n_upd + n_del, replace=False)
        touched = self.live[pick]
        ins = np.arange(self.next_key, self.next_key + n_ins, dtype=np.int64)
        self.next_key += n_ins
        dels = touched[n_upd:]
        self.live = np.concatenate([np.delete(self.live, pick[n_upd:]), ins])
        keys = np.concatenate([touched[:n_upd], ins, dels])
        order = rng.permutation(n)
        cols = datagen.customer_columns(rng, n)
        cols["c_custkey"] = keys[order]
        cols["c_name"] = [f"Customer#{k:09d}" for k in keys[order]]
        cols["_seq"] = np.arange(self.seq + 1, self.seq + n + 1, dtype=np.int64)
        self.seq += n
        cols["_deleted"] = np.concatenate(
            [np.zeros(n_upd + n_ins, bool), np.ones(n_del, bool)])[order]
        return pa.table(cols)


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from data_pipeline_kafka_ek_spark.sources.acid import TxnLogTable
    from data_pipeline_kafka_ek_spark.sources.tables import load_table

    spark, tr = ctx.spark, ctx.tracer
    rng = np.random.default_rng(ctx.seed)
    data = os.path.join(ctx.work, "data")
    landing = os.path.join(ctx.work, "landing")
    os.makedirs(data)
    os.makedirs(landing)
    seed_cols = datagen.customer_columns(rng, N_SEED)
    seed_cols["_seq"] = np.zeros(N_SEED, dtype=np.int64)
    datagen.write_parquet(data, "customer", seed_cols)

    table = TxnLogTable(spark, os.path.join(ctx.work, "table"), key="c_custkey",
                        order_col="_seq", checkpoint_interval=CHECKPOINT_INTERVAL,
                        change_feed=True)
    table.append(load_table(spark, data, "customer"))
    feed = ChangeFeed(rng, N_SEED)

    samples = {"merge": [], "read": [], "feed": []}
    facts: list[dict] = []
    attempted = failed = 0

    def iteration(i: int, timed: bool) -> None:
        nonlocal attempted, failed
        path = os.path.join(landing, f"c{i:05d}.parquet")
        pq.write_table(feed.batch(BATCH_ROWS), path)
        changes = spark.read.parquet(path)
        attempted += 1
        rec = {"i": i, "timed": timed, "bytes": os.path.getsize(path)}
        ctx.canary.read()
        try:
            with tr.op(f"merge-{i}", "acid.merge") as sp:
                t0 = time.perf_counter()
                v = table.merge(changes, delete_col="_deleted")
                t1 = time.perf_counter()
            rec.update(version=v, merge_ms=(t1 - t0) * 1000.0, merge_span=sp)
            # each timer covers building the DataFrame (log listing and
            # fold) as well as materializing it
            with tr.op(f"read-{i}", "acid.read") as sp:
                t0 = time.perf_counter()
                noop_write(table.read().groupBy("c_mktsegment").agg(
                    F.count(F.lit(1)).alias("n"), F.sum("c_acctbal").alias("bal")))
                t1 = time.perf_counter()
            rec.update(read_ms=(t1 - t0) * 1000.0, read_span=sp)
            with tr.op(f"feed-{i}", "acid.feed") as sp:
                t0 = time.perf_counter()
                chg = table.read_changes(v - 1)
                noop_write(chg)
                t1 = time.perf_counter()
            rec.update(feed_ms=(t1 - t0) * 1000.0, feed_span=sp)
            if tr.enabled:
                rec["feed_rows"] = chg.count()
                rec["files_scanned"] = table.file_count(v)
        except Exception as exc:  # a commit that raised counts as failed
            failed += 1
            rec["error"] = repr(exc)
        facts.append(rec)
        if timed and "feed_ms" in rec:
            samples["merge"].append(rec["merge_ms"])
            samples["read"].append(rec["read_ms"])
            samples["feed"].append(rec["feed_ms"])

    warm_ms = []
    for i in range(WARM_ITERS):
        t0 = time.perf_counter()
        iteration(i, timed=False)
        warm_ms.append((time.perf_counter() - t0) * 1000.0)
    # a fixed number of timed iterations, set by --seconds alone: merges are
    # still getting faster (JIT), so a count that followed the machine's
    # speed would change which part of that curve the medians describe
    ctx.begin_timed()
    n_timed = max(3, round(ctx.seconds / NOMINAL_ITER_S))
    for i in range(WARM_ITERS, WARM_ITERS + n_timed):
        iteration(i, timed=True)
    ctx.end_timed()

    # correctness: final snapshot vs a latest-per-key fold of every input
    got = sorted(tuple(r) for r in table.read().collect())
    cols = table.read().columns
    expected = _expected(data, landing, cols)
    correct = got == expected
    if not correct:
        failed += 1

    m, r, f = samples["merge"], samples["read"], samples["feed"]
    cycle = [a + b + c for a, b, c in zip(m, r, f)]
    res = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "latency": m,
        "work_s": statistics.fmean(cycle) / 1000.0,
        "work_n": len(cycle),
        "cpu_units": n_timed,
        "series_ms": {"warm-up cycle": warm_ms, "timed merge": m},
        "detail": {
            "commit_p50_ms": (acc.percentile(m, 50), "ms", len(m)),
            "commit_p90_ms": (acc.percentile(m, 90), "ms", len(m)),
            "read_p50_ms": (acc.percentile(r, 50), "ms", len(r)),
            "feed_p50_ms": (acc.percentile(f, 50), "ms", len(f)),
            "rows_checked": (len(expected), "rows", len(expected)),
        },
    }
    if tr.enabled:
        res["layers"] = _layers(ctx, table, facts)
    return res


def _expected(data: str, landing: str, cols: "list[str]") -> list:
    import duckdb

    sel = ", ".join(cols)
    con = duckdb.connect()
    rows = con.sql(f"""
        WITH allrows AS (
          SELECT {sel}, false AS _deleted FROM read_parquet('{data}/customer.parquet')
          UNION ALL
          SELECT {sel}, _deleted FROM read_parquet('{landing}/*.parquet')
        ), ranked AS (
          SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY _seq DESC) rn
          FROM allrows
        )
        SELECT {sel} FROM ranked WHERE rn = 1 AND NOT _deleted
    """).fetchall()
    con.close()
    return sorted(rows)


def _commit(table, version: int) -> dict:
    with open(os.path.join(table.log_dir, f"{version:020d}.json"), encoding="utf-8") as fh:
        return json.loads(fh.read())


def _add_bytes(add: dict) -> int:
    if "size" in add:
        return int(add["size"])
    p = add["path"]
    return os.path.getsize(urlparse(p).path if p.startswith("file:") else p)


def _layers(ctx, table, facts: "list[dict]") -> dict:
    h = ctx.tracer.harvest()
    timed = [f for f in facts if f["timed"] and "feed_span" in f]
    by_group: dict[str, list] = {}
    for j in h["jobs"]:
        by_group.setdefault(j.get("jobGroup"), []).append(j)

    def op_jobs(kind: str, f: dict) -> list:
        return by_group.get(f"{kind}-{f['i']}", [])

    def busy(jobs) -> float:
        return interval_union_ms([iv for iv in map(job_interval_ms, jobs) if iv])

    merge_jobs = [op_jobs("merge", f) for f in timed]
    rewritten, amp_num, amp_den, ckpt_ms = [], 0, 0, []
    prev_v, retries = None, 0
    for f in timed:
        body = _commit(table, f["version"])
        acts = body["actions"]
        rewritten.append(sum(1 for a in acts if "remove" in a))
        amp_num += sum(_add_bytes(a["add"]) for a in acts if "add" in a)
        amp_den += f["bytes"]
        if f["version"] % CHECKPOINT_INTERVAL == 0:
            ckpt_ms.append(f["merge_ms"])
        if prev_v is not None:
            retries += max(0, f["version"] - prev_v - 1)
        prev_v = f["version"]
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    out = {
        "acid.merge.jobs_p50": med([len(js) for js in merge_jobs]),
        "acid.merge.job_ms_p50": med([busy(js) for js in merge_jobs]),
        "acid.merge.driver_gap_ms_p50": med(
            [f["merge_ms"] - busy(js) for f, js in zip(timed, merge_jobs)]),
        "acid.merge.py4j_calls_p50": med([f["merge_span"]["py4j"] for f in timed]),
        "acid.merge.files_rewritten_p50": med(rewritten),
        "acid.merge.write_amp": amp_num / amp_den if amp_den else 0.0,
        "acid.log.checkpoint_commit_ms_p50": med(ckpt_ms),
        "acid.retries": retries,
        "acid.read.jobs_p50": med([len(op_jobs("read", f)) for f in timed]),
        "acid.read.files_scanned_p50": med([f["files_scanned"] for f in timed]),
        "acid.table_files": table.file_count(),
        "acid.feed.jobs_p50": med([len(op_jobs("feed", f)) for f in timed]),
        "acid.feed.rows_p50": med([f["feed_rows"] for f in timed]),
    }
    groups = {f"{k}-{f['i']}" for f in timed for k in ("merge", "read", "feed")}
    jobs = [j for g in groups for j in by_group.get(g, [])]
    spans = [f[k] for f in timed for k in ("merge_span", "read_span", "feed_span")]
    busy_ms = sum((s["end"] - s["start"]) * 1000.0 for s in spans)
    py4j = sum(s["py4j"] for s in spans)
    out.update(ctx.spark_layers(h, jobs, max(1, len(timed)), busy_ms=busy_ms, py4j=py4j))
    return out
