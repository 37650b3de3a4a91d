"""Headline benchmark: runs the bench-flagged catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": ...}

Each query is timed end-to-end (plan + execute + collect-to-count). A warmup
query first touches every input file so JVM/classloader startup is not
attributed to the first query.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_pipeline_kafka_ek_spark.caching import release_pending_caches
from data_pipeline_kafka_ek_spark.plans import extensions  # noqa: F401  (registers bench-flagged extension queries)
from data_pipeline_kafka_ek_spark.plans.catalog import bench_queries
from data_pipeline_kafka_ek_spark.session import get_spark
from data_pipeline_kafka_ek_spark.sources.tables import TABLES, load_table
from tools.query_families import IO_BOUND_QUERIES, QUERY_FAMILIES


def query_family(name: str) -> "str | None":
    for fam, names in QUERY_FAMILIES.items():
        if name in names:
            return fam
    return None


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--families",
        default=None,
        help="comma-separated QUERY_FAMILIES keys; run only those "
        "queries (A/B on a disputed family without replaying the "
        "whole headline set). The JSON records the filter so "
        "bench_compare totals stay intersection-honest.",
    )
    args = ap.parse_args()
    family_filter: "set[str] | None" = None
    if args.families:
        family_filter = {f.strip() for f in args.families.split(",") if f.strip()}
        unknown = family_filter - set(QUERY_FAMILIES)
        if unknown:
            raise SystemExit(
                f"unknown families {sorted(unknown)}; "
                f"known: {sorted(QUERY_FAMILIES)}"
            )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # machine-load telemetry: recorded into the JSON so a reviewer (and
    # tools/bench_compare.py) can adjudicate whether a round-over-round
    # delta is code or a busy box, instead of inferring it from uniform
    # per-query inflation after the fact
    load_start = os.getloadavg()
    spark = get_spark("bench")

    # machine-speed canary: a FIXED pure-CPU workload (no I/O, no code
    # under test) timed before anything else. Load averages only see
    # processes on this box — host-level throttling/steal (a VM slowing
    # down between rounds) inflates every query uniformly while loadavg
    # reads idle. The canary's round-over-round ratio separates "code got
    # slower" from "machine got slower"; tools/bench_compare.py
    # adjudicates it when both sides carry one. Since r14 the JSON also
    # carries value_canary_norm / subtotals_canary_norm (times scaled by
    # 0.33 / canary_sec, 0.33s being the healthy-box baseline every past
    # adjudication normalized against), and bench_compare's regression
    # verdict reads the canary-corrected per-query ratios directly — the
    # variance procedure is now in-band, not prose.
    def _canary() -> float:
        import pyspark.sql.functions as F

        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            spark.range(0, 150_000_000, 1, 32).select(
                F.xxhash64("id").alias("h")
                # avg, not sum: summing 150M 64-bit hashes overflows
                # int64 under ANSI mode
            ).agg(F.avg("h")).collect()
            best = min(best, time.time() - t0)
        return round(best, 3)

    # MULTI-SAMPLE canaries (r15 verdict #3): a single start-of-run
    # sample under-resolves the box's intra-day throttle swings
    # (0.48–1.68 observed within one r15 afternoon) — a sample landing
    # in a fast window makes value_canary_norm INFLATE rather than
    # correct. Sample at start, mid-run (between query families), and
    # end; publish the samples and use the MEDIAN as canary_sec.
    # bench_compare flags max/min > 1.3 as unadjudicatable.
    canary_samples = [_canary()]

    # filesystem-metadata canary: the ACID-table queries' wall time is
    # dominated by commit-protocol latency (hundreds of tiny JSON/parquet
    # creates + atomic renames on the scratch filesystem), which varies
    # with box state in ways NEITHER loadavg nor the CPU canary sees —
    # page-cache pressure, dirty-writeback stalls, overlay-fs state. A
    # fixed create+write+rename loop timed on the same tempdir the
    # scratch tables use gives the adjudicator the I/O-side machine-speed
    # reference (bench_compare reads it as canary_io_sec).
    def _canary_io() -> float:
        import shutil as _shutil
        import tempfile as _tempfile

        best = float("inf")
        for _ in range(2):
            d = _tempfile.mkdtemp(prefix="bench_io_canary_")
            t0 = time.time()
            for i in range(400):
                tmp = os.path.join(d, f".t{i}")
                with open(tmp, "w", encoding="utf-8") as fh:
                    fh.write("x" * 512)
                os.replace(tmp, os.path.join(d, f"c{i}.json"))
            best = min(best, time.time() - t0)
            _shutil.rmtree(d, ignore_errors=True)
        return round(best, 4)

    canary_io_samples = [_canary_io()]

    # bulk-write canary (r16 optimization round): this box demonstrated a
    # failure mode INVISIBLE to both existing canaries — the small-file
    # create+rename loop read healthy (0.014 s) while sustained write
    # bandwidth sat at 4-15 MB/s (fsync'd 128 MB probe; healthy boxes do
    # hundreds), inflating every shuffle-heavy query 3-7x. Record MB/s so
    # an adjudicator can tell "shuffle writes were starved" apart from
    # "code got slower"; modest size (128 MB) keeps the probe ~1 s on a
    # healthy box.
    def _canary_io_bulk() -> float:
        import tempfile as _tempfile

        d = _tempfile.mkdtemp(prefix="bench_io_bulk_")
        p = os.path.join(d, "probe.bin")
        chunk = os.urandom(8 * 1024 * 1024)
        t0 = time.time()
        with open(p, "wb") as fh:
            for _ in range(16):
                fh.write(chunk)
            fh.flush()
            os.fsync(fh.fileno())
        dt = time.time() - t0
        os.remove(p)
        os.rmdir(d)
        return round(128.0 / dt, 1)

    canary_io_bulk_samples = [_canary_io_bulk()]

    # warmup: JVM + parquet footers at the target SF, then one tiny-SF run of
    # each headline query so codegen/plan compilation is outside the timed
    # region (standard warmup iteration; the timed runs still plan + execute
    # + materialize at the target SF)
    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    warm_dir = "/root/testdata/sf0.001"
    def run_to_completion(df) -> None:
        # the noop sink forces FULL materialization of every output column;
        # .count() would let Catalyst prune expensive projections (a window
        # query's cumulative column, for instance) and read bare row counts
        # from parquet metadata
        df.write.format("noop").mode("overwrite").save()

    selected = {
        name: fn
        for name, fn in bench_queries().items()
        if family_filter is None or query_family(name) in family_filter
    }
    for name, fn in selected.items():
        try:
            run_to_completion(fn(spark, warm_dir))
        except Exception as exc:
            print(f"# warmup {name} failed: {exc}", file=sys.stderr)
        finally:
            release_pending_caches()
            spark.catalog.clearCache()

    timings: dict[str, float] = {}
    mid_at = max(1, len(selected) // 2)
    for i, (name, fn) in enumerate(selected.items()):
        if i == mid_at:
            # mid-run canary sample, taken BETWEEN timed queries so it
            # reads the box, not the bench's own load
            canary_samples.append(_canary())
            canary_io_samples.append(_canary_io())
            canary_io_bulk_samples.append(_canary_io_bulk())
        # min of 3: steady-state cost, robust to GC pauses between rounds.
        # CACHES ARE RELEASED BETWEEN ITERATIONS (r17 measurement-honesty
        # fix, declared in the JSON as cache_cleared_between_iterations):
        # the query paths persist slim intermediates (token sets, posting
        # lists, banded signatures) that feed several consumers inside one
        # query; Spark's CacheManager substitutes a still-persisted
        # relation into any structurally-equal plan, so without the drain
        # iterations 2-3 read iteration 1's caches and min-of-3 reported
        # the warm-cache build as if it were computed. Every iteration
        # now recomputes from the parquet inputs; the drain itself runs
        # OUTSIDE the timed region (session hygiene, not query cost).
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            run_to_completion(fn(spark, sf_dir))
            best = min(best, time.time() - t0)
            release_pending_caches()
            spark.catalog.clearCache()
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr)
    canary_samples.append(_canary())
    canary_io_samples.append(_canary_io())
    canary_io_bulk_samples.append(_canary_io_bulk())
    canary_sec = round(statistics.median(canary_samples), 3)
    canary_io_sec = round(statistics.median(canary_io_samples), 4)
    canary_io_bulk_mbps = round(statistics.median(canary_io_bulk_samples), 1)

    load_end = os.getloadavg()
    # per-family subtotals (the QUERY_FAMILIES partition): each fact lives
    # in one place, so adding a query moves exactly one family's sum
    subtotals = {
        fam: round(sum(v for k, v in timings.items() if k in names), 3)
        for fam, names in QUERY_FAMILIES.items()
    }
    norm = 0.33 / canary_sec
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                # canary-normalized total (r13 verdict #8): value scaled
                # by 0.33 / canary_sec, the healthy-box CPU baseline every
                # prior adjudication normalized against by hand — so
                # round-over-round compares read this field and stop
                # needing manual throttling adjudication prose. Families
                # get the same treatment in subtotals_canary_norm.
                "value_canary_norm": round(
                    sum(timings.values()) * norm, 3
                ),
                "canary_baseline_sec": 0.33,
                "queries": timings,
                # canary-correction family per timed query, by explicit
                # name (never substring): bench_compare corrects "io"
                # queries by canary_io_sec and everything else by the
                # CPU canary
                "canary_families": {
                    n: ("io" if n in IO_BOUND_QUERIES else "cpu")
                    for n in timings
                },
                "families_filter": (
                    sorted(family_filter) if family_filter else None
                ),
                # r17 methodology bit: persisted query-path intermediates
                # are unpersisted between the min-of-3 iterations (see the
                # timed loop) — every iteration computes from the parquet
                # inputs instead of iterations 2-3 reading iteration 1's
                # still-persisted relations. Absent/false in pre-r17
                # bench files; dedup/sketch/text numbers RISE under the
                # honest methodology (they previously excluded the cached
                # build from the min).
                "cache_cleared_between_iterations": True,
                "subtotals": subtotals,
                "subtotals_canary_norm": {
                    k: round(v * norm, 3) for k, v in subtotals.items()
                },
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "load": {
                    # 1m/5m load averages straddling the run + the cpu
                    # count they normalize against; start_1m reflects
                    # pre-existing box load, end_5m smooths the run itself
                    "start_1m": round(load_start[0], 2),
                    "start_5m": round(load_start[1], 2),
                    "end_1m": round(load_end[0], 2),
                    "end_5m": round(load_end[1], 2),
                    "cpus": os.cpu_count(),
                    # fixed pure-CPU microbenchmark (see _canary): the
                    # machine-speed reference loadavg cannot provide.
                    # canary_sec = MEDIAN of the start/mid/end samples;
                    # the samples are published so bench_compare can
                    # flag high-variance (max/min > 1.3) runs as
                    # unadjudicatable instead of trusting one draw
                    "canary_sec": canary_sec,
                    "canary_samples_sec": canary_samples,
                    # fixed small-file create+rename loop (see
                    # _canary_io): the scratch-filesystem latency
                    # reference the ACID commit protocol depends on
                    "canary_io_sec": canary_io_sec,
                    "canary_io_samples_sec": canary_io_samples,
                    # sustained write bandwidth (fsync'd 128 MB), MB/s —
                    # the shuffle-write starvation reference the two
                    # canaries above cannot see (see _canary_io_bulk)
                    "canary_io_bulk_mbps": canary_io_bulk_mbps,
                    "canary_io_bulk_samples_mbps": canary_io_bulk_samples,
                },
            }
        )
    )


if __name__ == "__main__":
    main()
