"""``catalog_batch``: closed-loop rounds over the headline catalog queries.

One client runs rounds over a fixed subset of ``bench_queries()`` that
covers every ``QUERY_FAMILIES`` key except ``acid`` (``cdc_merge`` covers
the transaction log), on tables generated at ``SF``. Each execution is
built and materialized through the noop sink, with persisted intermediates
released between executions outside the timed region, as ``bench.py``
does. The warm-up round collects every query's rows and checks them
against its DuckDB oracle with ``tools/check_correctness.py``'s
``value_hash``; the timed rounds then repeat the same queries.
"""

from __future__ import annotations

import os
import statistics
import time

import accounting as acc
import datagen
from harness import interval_union_ms, job_interval_ms, noop_write

SF = 0.01
# Chosen from a traced pass over all 32 non-ACID queries at this scale
# (perfbench/README.md, "Catalog subset"): the two ROADMAP 2c builders that
# run eager jobs while building at this scale, and a short query of every
# other family, whose time is mostly table loads and DataFrame
# construction (ROADMAP 2a).
QUERIES = (
    "j1_enrichment_join", "h3_top_revenue_orders", "x_quality_gopher_rules",
    "x_ann_topk_blocked", "x_dedup_simhash", "x_sketch_kmv_rollup",
)
WARM_ROUNDS = 1  # fixed; the first round also pays class loading and codegen
NOMINAL_ROUND_S = 7.0  # one timed round on a 4-core box; sizes the timed phase


def run(ctx) -> dict:
    import duckdb
    from bench import query_family

    from data_pipeline_kafka_ek_spark.caching import release_pending_caches
    from data_pipeline_kafka_ek_spark.plans import extensions  # noqa: F401
    from data_pipeline_kafka_ek_spark.plans.catalog import bench_queries, oracle_sql
    from data_pipeline_kafka_ek_spark.sources.tables import TABLES
    from tools.check_correctness import value_hash

    spark, tr = ctx.spark, ctx.tracer
    sf_dir = os.path.join(ctx.work, "tables")
    datagen.write_tables(sf_dir, SF, ctx.seed)
    fns = bench_queries()
    oracles = oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    attempted = failed = 0
    mismatched: list[str] = []
    released = []

    def execute(name: str, rnd: int, check: bool) -> float:
        nonlocal attempted, failed
        attempted += 1
        fam = query_family(name)
        try:
            with tr.op(f"q{rnd}-{name}", "catalog.query", query=name, family=fam, round=rnd):
                t0 = time.perf_counter()
                with tr.span("plans.build"):
                    df = fns[name](spark, sf_dir)
                t1 = time.perf_counter()
                if tr.enabled:
                    with tr.span("spark.plan") as sp:
                        sp["plan_ms"] = _planning_ms(tr, df)
                t2 = time.perf_counter()
                with tr.span("spark.write"):
                    if check:
                        rows = [tuple(r) for r in df.collect()]
                    else:
                        noop_write(df)
                t3 = time.perf_counter()
        except Exception as exc:
            failed += 1
            mismatched.append(f"{name}: {exc!r}"[:300])
            return float("nan")
        finally:
            released.append((rnd, release_pending_caches()))
            spark.catalog.clearCache()
        if check:
            rel = con.sql(oracles[name])
            want = value_hash(list(rel.columns), rel.fetchall())
            if value_hash(list(df.columns), rows) != want:
                failed += 1
                mismatched.append(name)
        return ((t1 - t0) + (t3 - t2)) * 1000.0

    warm = {}
    for rnd in range(WARM_ROUNDS):
        ctx.canary.read()
        for name in QUERIES:
            warm.setdefault(name, []).append(execute(name, rnd, check=rnd == 0))
    # a fixed number of timed rounds, set by --seconds alone (see cdc.py)
    ctx.begin_timed()
    rounds = max(1, round(ctx.seconds / NOMINAL_ROUND_S))
    per_query: dict[str, list[float]] = {n: [] for n in QUERIES}
    for rnd in range(WARM_ROUNDS, WARM_ROUNDS + rounds):
        for name in QUERIES:
            ctx.canary.read()
            per_query[name].append(execute(name, rnd, check=False))
    ctx.end_timed()
    con.close()

    medians = {n: statistics.median(v) for n, v in per_query.items()}
    every = [x for v in per_query.values() for x in v]
    res = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "mismatched": mismatched,
        "latency": every,
        "latency_ms": (acc.geomean(list(medians.values())), len(every)),
        "work_s": sum(medians.values()) / 1000.0,
        "work_n": rounds,
        "cpu_units": rounds,
        "series_ms": {**{f"warm-up {n}": v for n, v in warm.items()},
                      **{f"timed {n}": v for n, v in per_query.items()}},
        "detail": {
            "query_geomean_ms": (acc.geomean(list(medians.values())), "ms", len(every)),
            "round_s": (sum(medians.values()) / 1000.0, "s", rounds),
            "queries": (len(QUERIES), "count", len(QUERIES)),
        },
    }
    if tr.enabled:
        res["layers"] = _layers(ctx, rounds, released)
    return res


def _planning_ms(tr, df) -> float:
    """Catalyst's own QueryPlanningTracker phases for this plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = tr.jvm_json(qe.tracker().phases())
    return float(sum(p["endTimeMs"] - p["startTimeMs"] for p in phases.values()))


def _layers(ctx, rounds: int, released) -> dict:
    tr = ctx.tracer
    h = tr.harvest()
    ops = {op: a for op, a in tr.ops.items() if a["round"] >= WARM_ROUNDS}
    by_group: dict[str, list] = {}
    for j in h["jobs"]:
        by_group.setdefault(j.get("jobGroup"), []).append(j)
    kids: dict[int, list] = {}
    for s in tr.spans:
        kids.setdefault(s["parent"], []).append(s)
    op_of_job = {j["jobId"]: j.get("jobGroup") for j in h["jobs"]}
    py_by_op: dict[str, float] = {}
    for e in h["sql"]:
        op = next((op_of_job.get(j) for j in e["jobs"] if op_of_job.get(j)), None)
        py_by_op[op] = py_by_op.get(op, 0.0) + e["python"].get("time to run Python workers", 0.0)
    fam_keys = sorted({a["family"] for a in ops.values()})
    tot = {k: 0.0 for k in ("build_ms", "build_jobs", "load_calls", "load_ms", "plan_ms", "busy")}
    fam = {f: {"build": 0.0, "job": 0.0, "gap": 0.0, "py": 0.0} for f in fam_keys}
    jobs_all, py4j = [], 0
    for s in tr.spans:
        if s["parent"] is not None or s["op"] not in ops:
            continue
        a = ops[s["op"]]
        jobs = by_group.get(s["op"], [])
        jobs_all.extend(jobs)
        children = {c["name"]: c for c in kids.get(s["id"], [])}
        b, p, w = children["plans.build"], children["spark.plan"], children["spark.write"]
        build_ms = (b["end"] - b["start"]) * 1000.0
        op_ms = build_ms + (w["end"] - w["start"]) * 1000.0
        job_ms = interval_union_ms([iv for iv in map(job_interval_ms, jobs) if iv])
        loads = [c for c in kids.get(b["id"], []) if c["name"] == "tables.load"]
        tot["build_ms"] += build_ms
        tot["build_jobs"] += sum(1 for j in jobs if j["submissionTime"] <= b["end"] * 1000.0)
        tot["load_calls"] += len(loads)
        tot["load_ms"] += sum((c["end"] - c["start"]) * 1000.0 for c in loads)
        tot["plan_ms"] += p["plan_ms"]
        tot["busy"] += op_ms
        py4j += b["py4j"] + w["py4j"]
        f = fam[a["family"]]
        f["build"] += build_ms
        f["job"] += job_ms
        f["gap"] += op_ms - job_ms
        f["py"] += py_by_op.get(s["op"], 0.0)
    n = max(1, rounds)
    out = {
        "plans.build_ms": tot["build_ms"] / n,
        "plans.build_jobs": tot["build_jobs"] / n,
        "tables.load_calls": tot["load_calls"] / n,
        "tables.load_ms": tot["load_ms"] / n,
        "spark.plan_ms": tot["plan_ms"] / n,
        "caching.released": sum(k for r, k in released if r >= WARM_ROUNDS) / n,
    }
    for f, v in fam.items():
        out[f"plans.build_ms.{f}"] = v["build"] / n
        out[f"spark.job_ms.{f}"] = v["job"] / n
        out[f"spark.driver_gap_ms.{f}"] = v["gap"] / n
        out[f"operators.python_ms.{f}"] = v["py"] / n
    out.update(ctx.spark_layers(h, jobs_all, n, busy_ms=tot["busy"], py4j=py4j))
    return out
