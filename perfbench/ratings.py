"""``ratings_pipeline``: the reference's continuous pipeline, one batch at a time.

The streaming query is RATINGS_PER_CUSTOMER_PER_15MINUTE
(``reference.events_per_customer_per_15min`` over a watermarked file
stream, enriched against ``customer``), sunk with ``outputMode("update")``
into ``streaming.sinks.mongo_sink``. The timed phase publishes a fixed
number of small batches of ``events``-shaped parquet files, each once the
query is idle and the previous batch is committed (closed loop), then
stages a fixed backlog and drains it with the same query.

Event time starts at a 15-minute boundary and advances a fixed amount per
file, with bounded disorder well inside the watermark, so every run has
the same window layout and evictions and no event is dropped. A batch's
latency is read from the query's own checkpoint: the commit-log entry of
the micro-batch that read its files (found through ``offsets/<n>``) minus
the time they were published.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import accounting as acc
import datagen

# An open loop (files due on a fixed schedule) was tried first: with only
# 4-8 micro-batches in a run, a slower trigger left more rows for the next
# one, and event latency spread 0.35-0.73 (IQR / median) between runs while
# CPU per event spread 0.07. Publishing each batch only once the previous
# one is committed measures a trigger without that queueing.
FILES_PER_BATCH = 4
ROWS_PER_FILE = 250  # 1 000 events per batch
STEP_S = 0.25  # schedule seconds of events per file
NOMINAL_BATCH_S = 2.5  # one timed batch and the no-data batch after it; sizes the timed phase
SPEEDUP = 120  # event-time seconds per scheduled second
DISORDER_S = 60  # events lag their file's event-time clock by up to this
WATERMARK = "3 minutes"  # > DISORDER_S, so no event is ever late
ORIGIN = np.datetime64("2024-01-01T00:00:00", "us")  # a 15-minute boundary
WARM_BATCHES = 1  # fixed; the query's first micro-batch, before them, pays most of the cold start
BACKLOG_FILES = 12
BACKLOG_ROWS = 15_000  # 180 000 staged events
BACKLOG_SPAN_S = 3.75  # schedule seconds per backlog file: a 4 000 events/s burst
MAX_FILES_PER_TRIGGER = 60
N_CUSTOMERS = 1_500


def _event_file(rng, first_id: int, n: int, t0_s: float, span_s: float):
    """Rows whose event times cover [t0_s, t0_s + span_s) of the schedule,
    each lagging by up to DISORDER_S of event time."""
    sched = t0_s + np.sort(rng.uniform(0, span_s, n))
    ev = sched * SPEEDUP - rng.uniform(0, DISORDER_S, n)
    ts = ORIGIN + (ev * 1e6).astype("timedelta64[us]")
    # about 5% of users have no customer row (the left join's NULL side)
    return datagen.event_columns(
        rng, np.arange(first_id, first_id + n, dtype=np.int64), ts,
        n_users=int(N_CUSTOMERS * 1.05),
    )


def run(ctx) -> dict:
    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StreamingQueryListener

    from data_pipeline_kafka_ek_spark.plans import reference
    from data_pipeline_kafka_ek_spark.sources.tables import load_table, normalize_events_ts
    from data_pipeline_kafka_ek_spark.streaming.sinks import mongo_sink

    spark, tr = ctx.spark, ctx.tracer
    rng = np.random.default_rng(ctx.seed)
    data = os.path.join(ctx.work, "data")
    staged = os.path.join(ctx.work, "staged")
    landing = os.path.join(ctx.work, "landing")
    ckpt = os.path.join(ctx.work, "ckpt")
    out = os.path.join(ctx.work, "sink")
    for d in (data, staged, landing):
        os.makedirs(d)
    datagen.write_parquet(data, "customer", datagen.customer_columns(rng, N_CUSTOMERS))

    # every input is written before anything is timed; publishing is a rename
    n_timed = max(3, round(ctx.seconds / NOMINAL_BATCH_S))
    n_batches = WARM_BATCHES + n_timed
    names, next_id = [], 0
    for i in range(1 + n_batches * FILES_PER_BATCH):
        name = f"r{i:06d}.parquet"
        pq.write_table(_event_file(rng, next_id, ROWS_PER_FILE, i * STEP_S, STEP_S),
                       os.path.join(staged, name))
        names.append(name)
        next_id += ROWS_PER_FILE
    backlog = []
    t_sched = len(names) * STEP_S
    for j in range(BACKLOG_FILES):
        name = f"b{j:06d}.parquet"
        pq.write_table(_event_file(rng, next_id, BACKLOG_ROWS, t_sched + j * BACKLOG_SPAN_S,
                                   BACKLOG_SPAN_S),
                       os.path.join(staged, name))
        backlog.append(name)
        next_id += BACKLOG_ROWS

    progress: list[dict] = []

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            st = p.stateOperators[0] if p.stateOperators else None
            progress.append({
                "batch": p.batchId, "rows": p.numInputRows,
                "ms": dict(p.durationMs),
                "state_commit_ms": st.commitTimeMs if st else 0,
                "state_rows": st.numRowsTotal if st else 0,
                "state_mem": st.memoryUsedBytes if st else 0,
                "state_removed": st.numRowsRemoved if st else 0,
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    if tr.enabled:
        spark.streams.addListener(Listener())

    # first warm-up file lands before the query starts so the source has a
    # file to take its schema from
    os.rename(os.path.join(staged, names[0]), os.path.join(landing, names[0]))
    raw_schema = spark.read.parquet(os.path.join(landing, names[0])).schema
    customer = load_table(spark, data, "customer")
    stream = normalize_events_ts(
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", str(MAX_FILES_PER_TRIGGER))
        .parquet(landing)
    ).withWatermark("ts", WATERMARK)
    windows = reference.events_per_customer_per_15min(stream, customer).withColumn(
        "doc_key", F.concat_ws("|", "window_start", "customer_label")
    )
    sink = mongo_sink("ratings_per_customer", "doc_key", out)
    sink_spans = []

    def traced_sink(df, bid):
        with tr.span("sink.call", batch=bid) as rec:
            sink(df, bid)
        if rec is not None:
            sink_spans.append(rec)

    q = (windows.writeStream.outputMode("update")
         .option("checkpointLocation", ckpt)
         .foreachBatch(traced_sink).start())

    def wait_idle(deadline: float) -> None:
        # the no-data batch that advances the watermark runs right after a
        # data batch; publish only once the query is idle, so that a batch
        # never waits on it
        idle = 0
        while time.time() < deadline and idle < 3:
            idle = 0 if q.status["isTriggerActive"] else idle + 1
            time.sleep(0.05)

    published: dict[str, float] = {}

    def publish_and_wait(batch: "list[str]", timeout_s: float) -> float:
        """Publish ``batch`` on an idle query; return its latency (ms): the
        commit of the last micro-batch that read one of its files minus the
        publish time."""
        deadline = time.time() + timeout_s
        wait_idle(deadline)
        ctx.canary.read()
        t = time.time()
        for n in batch:
            os.rename(os.path.join(staged, n), os.path.join(landing, n))
            published[n] = t
        lat: dict = {}
        while time.time() < deadline:
            lat = acc.file_latencies_ms(ckpt, published)[0]
            if all(n in lat for n in batch):
                return max(lat[n] for n in batch)
            time.sleep(0.05)
        return float("nan")

    batches = [names[1 + k * FILES_PER_BATCH:1 + (k + 1) * FILES_PER_BATCH]
               for k in range(n_batches)]
    warm_ms = [publish_and_wait(b, 90) for b in batches[:WARM_BATCHES]]
    ctx.begin_timed()
    t_timed = time.time()
    batch_ms = [publish_and_wait(b, 60) for b in batches[WARM_BATCHES:]]
    timed_names = [n for b in batches[WARM_BATCHES:] for n in b]

    wait_idle(time.time() + 60)
    ctx.canary.read()
    t_stage = time.time()
    for n in backlog:
        os.rename(os.path.join(staged, n), os.path.join(landing, n))
        published[n] = t_stage
    deadline = t_stage + 120
    lat, batch_of = {}, {}
    while time.time() < deadline:
        lat, batch_of = acc.file_latencies_ms(ckpt, published)
        if all(n in lat for n in backlog):
            break
        time.sleep(0.05)
    ctx.end_timed()
    q.stop()
    failed_ops = sum(1 for x in batch_ms if x != x) + (0 if all(n in lat for n in backlog) else 1)

    ok_ms = [x for x in batch_ms if x == x]
    drain_s = max((lat[n] for n in backlog if n in lat), default=float("nan")) / 1000.0
    timed_batches = sorted({batch_of[n] for n in timed_names if n in batch_of})
    drain_batches = sorted({batch_of[n] for n in backlog if n in batch_of})

    # correctness: final upserted docs vs a DuckDB recomputation over every
    # generated file (warm-up, timed and backlog alike)
    docs = acc.fold_upserts(os.path.join(out, "ratings_per_customer"))
    expected = _expected_windows(landing, os.path.join(data, "customer.parquet"))
    wrong = acc.window_mismatches(expected, docs)
    n_events = next_id
    # an event counts as failed when its window's final doc is wrong
    bad_events = sum(expected[k][0] if k in expected else 1 for k in wrong)
    correct = not wrong and failed_ops == 0

    n_timed_events = len(timed_names) * ROWS_PER_FILE + BACKLOG_FILES * BACKLOG_ROWS
    res = {
        "correct": correct,
        "attempted": n_events,
        "failed": n_events if failed_ops else bad_events,
        "latency": ok_ms,
        "work_s": drain_s,
        "work_n": 1,
        "cpu_units": n_timed_events / 1e6,
        "series_ms": {"warm-up batch": warm_ms, "timed batch": batch_ms},
        "detail": {
            "batch_latency_p50_ms": (acc.percentile(ok_ms, 50), "ms", len(ok_ms)),
            "events_per_s": (BACKLOG_FILES * BACKLOG_ROWS / drain_s, "events/s", 1),
            "timed_micro_batches": (len(timed_batches), "count", len(timed_batches)),
            "drain_micro_batches": (len(drain_batches), "count", len(drain_batches)),
            "windows_checked": (len(expected), "count", len(expected)),
            "windows_wrong": (len(wrong), "count", len(expected)),
        },
    }
    if tr.enabled:
        res["layers"] = _layers(ctx, str(q.runId), progress, timed_batches, drain_batches,
                                sink_spans, out, t_stage, t_timed)
    return res


def _expected_windows(landing: str, customer: str) -> dict:
    import duckdb

    con = duckdb.connect()
    rows = con.sql(f"""
        SELECT strftime(time_bucket(INTERVAL 15 minutes, e.ts, TIMESTAMP '2024-01-01'),
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               c.c_name || ' ' || c.c_mktsegment AS customer_label,
               count(*) AS rating_count,
               array_to_string(list_sort(list(e.event_id)), ',') AS event_ids
        FROM read_parquet('{landing}/*.parquet') e
        JOIN read_parquet('{customer}') c ON e.user_id = c.c_custkey
        WHERE lower(e.event_type) NOT LIKE '%err%'
        GROUP BY 1, 2
    """).fetchall()
    con.close()
    return {f"{w}|{lab}": (n, ids) for w, lab, n, ids in rows}


def _p50(xs):
    return statistics.median(xs) if xs else 0.0


def _layers(ctx, run_id, progress, timed_batches, drain_batches, sink_spans, out,
            t_stage, t_timed) -> dict:
    h = ctx.tracer.harvest()
    by_batch = {p["batch"]: p for p in progress}
    timed = [by_batch[b] for b in timed_batches if b in by_batch]
    drain = [by_batch[b] for b in drain_batches if b in by_batch]
    ms = lambda p, *k: sum(p["ms"].get(x, 0) for x in k)  # noqa: E731
    # the query's own jobs (its run id is their job group) since timing began
    t0_ms = t_timed * 1000.0
    jobs = [j for j in h["jobs"]
            if j.get("jobGroup") == run_id and (j.get("submissionTime") or 0) >= t0_ms]
    drain_jobs = [j for j in jobs if j["submissionTime"] >= t_stage * 1000.0]
    sink_dir = os.path.join(out, "ratings_per_customer")
    files = [f for f in os.listdir(sink_dir) if f.endswith(".jsonl")]
    docs = 0
    for f in files:
        with open(os.path.join(sink_dir, f), encoding="utf-8") as fh:
            docs += sum(1 for _ in fh)
    n_units = max(1, len(timed) + len(drain))
    out_layers = {
        "stream.batches": len(timed),
        "stream.rows_per_batch_p50": _p50([p["rows"] for p in timed]),
        "stream.trigger_ms_p50": _p50([ms(p, "triggerExecution") for p in timed]),
        "stream.trigger_ms_p90": acc.percentile([ms(p, "triggerExecution") for p in timed], 90) if timed else 0.0,
        "stream.overhead_ms_p50": _p50([ms(p, "triggerExecution") - ms(p, "addBatch") for p in timed]),
        "stream.source_ms_p50": _p50([ms(p, "latestOffset", "getBatch") for p in timed]),
        "stream.planning_ms_p50": _p50([ms(p, "queryPlanning") for p in timed]),
        "stream.checkpoint_ms_p50": _p50([ms(p, "walCommit", "commitOffsets") for p in timed]),
        "stream.jobs_per_batch": len(jobs) / n_units,
        "state.commit_ms_p50": _p50([p["state_commit_ms"] for p in timed]),
        "state.rows_total_max": max([p["state_rows"] for p in progress] or [0]),
        "state.memory_mb_max": max([p["state_mem"] for p in progress] or [0]) / 2**20,
        "state.rows_removed": sum(p["state_removed"] for p in progress),
        "sink.call_ms_p50": _p50([(s["end"] - s["start"]) * 1000.0 for s in sink_spans
                                  if s["start"] >= t_timed]),
        "sink.docs": docs,
        "sink.files": len(files),
        "drain.batches": len(drain),
        "drain.rows_per_batch_p50": _p50([p["rows"] for p in drain]),
        "drain.add_batch_ms_p50": _p50([ms(p, "addBatch") for p in drain]),
        "drain.shuffle_write_mb": sum(
            h["stages"][s]["shuffleWriteBytes"] for j in drain_jobs for s in j["stageIds"]
            if s in h["stages"]) / 2**20,
    }
    busy = sum(ms(p, "triggerExecution") for p in timed + drain)
    out_layers.update(ctx.spark_layers(h, jobs, n_units, busy_ms=busy))
    return out_layers

