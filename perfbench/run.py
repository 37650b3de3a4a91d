"""Benchmark entry point: one workload, one seed, one timed phase.

    python3 perfbench/run.py --workload cdc_merge --seed 1 --seconds 12 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into a
fresh work directory under ``.perfbench_work/`` that is deleted afterwards;
the program under test only ever sees those generated inputs. The run
prints one human-readable line per metric (name, value, unit, sample
count) and, as its last line, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, and the spans plus the full layer table are written to
``.perfbench_out/trace_<workload>_seed<seed>.json``. A failed correctness
check prints the result and exits 1; a checkout without the program exits
2 without a result.
"""

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import accounting as acc  # noqa: E402
import harness  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("ratings_pipeline", "cdc_merge", "catalog_batch")
# name -> unit; every workload reports all of them (see BENCHMARK.json)
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_ms": "ms",
    "work_s": "s",
    "cpu_s": "s",
}
# Times are scaled to a reference machine speed: a value measured while the
# canary's readings have median c ms is reported times REF_CANARY_MS / c.
SCALED = ("setup_s", "latency_ms", "work_s", "cpu_s")
REF_CANARY_MS = 100.0  # about the canary's median on a 4-core box
DEADLINE_S = 170  # the whole run, set-up and clean-up included


class Ctx:
    """What a workload's ``run(ctx)`` gets: the session, the tracer, the
    canary (read between operations, while the program is idle), its
    arguments and work directory, and the marks that end set-up and the
    timed phase."""

    def __init__(self, spark, tracer, canary, seed: int, seconds: int, work: str):
        self.spark, self.tracer, self.canary = spark, tracer, canary
        self.seed, self.seconds, self.work = seed, seconds, work
        self.t_setup_end = None
        self.first_timed_reading = None
        self.cpu = [0.0, 0.0]

    def begin_timed(self, delay: float = 0.0) -> float:
        """Set-up is over: start the CPU clock and return the time the first
        timed operation starts (``delay`` from now)."""
        self.cpu[0] = harness.cpu_seconds(self.spark)
        self.first_timed_reading = len(self.canary.readings)
        self.t_setup_end = time.time() + delay
        return self.t_setup_end

    def end_timed(self) -> None:
        self.cpu[1] = harness.cpu_seconds(self.spark)

    def spark_layers(self, h: dict, jobs: list, n: int, busy_ms: float,
                     py4j: "int | None" = None) -> dict:
        """Spark-level counts and times for ``jobs``, per unit of work."""
        ids = {j["jobId"] for j in jobs}
        stages = [h["stages"][s] for s in {s for j in jobs for s in j["stageIds"]}
                  if s in h["stages"] and h["stages"][s]["status"] == "COMPLETE"]
        job_ms = harness.interval_union_ms(
            [iv for iv in map(harness.job_interval_ms, jobs) if iv])
        py = {"run": 0.0, "start": 0.0}
        for e in h["sql"]:
            if ids.intersection(e["jobs"]):
                py["run"] += e["python"].get("time to run Python workers", 0.0)
                py["start"] += e["python"].get("time to start Python workers", 0.0)
        mb = 2.0**20
        out = {
            "spark.jobs": len(jobs) / n,
            "spark.stages": len(stages) / n,
            "spark.tasks": sum(s["numTasks"] for s in stages) / n,
            "spark.job_ms": job_ms / n,
            "spark.driver_gap_ms": max(0.0, busy_ms - job_ms) / n,
            "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / mb / n,
            "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / mb / n,
            "spark.spill_mb": sum(s["diskBytesSpilled"] for s in stages) / mb / n,
            "operators.python_ms": py["run"] / n,
            "operators.python_boot_ms": py["start"] / n,
        }
        if py4j is not None:
            out["py4j.calls"] = py4j / n
        return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
            return fh.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def _stop(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for all."""
    if spark is None:
        return
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = harness.descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=15)
            except Exception:
                proc.kill()
                proc.wait(timeout=5)
        deadline = time.time() + 10
        while any(_alive(p) for p in kids) and time.time() < deadline:
            time.sleep(0.05)
        for p in kids:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass


def _on_deadline(work: str, spark_ref: list, canary):
    """Past the deadline nothing the run is waiting on can be trusted to
    return: kill the canary, the JVM and its workers, drop the work
    directory, exit."""

    def handler(signum, frame):
        print(f"perfbench: run exceeded {DEADLINE_S}s", file=sys.stderr)
        canary.proc.kill()
        canary.proc.wait(timeout=5)
        proc = getattr(spark_ref[0].sparkContext._gateway, "proc", None) if spark_ref else None
        if proc is not None:
            kids = harness.descendants(proc.pid)
            proc.kill()
            for p in kids:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            proc.wait(timeout=5)
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    return handler


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "data_pipeline_kafka_ek_spark")):
        print("perfbench: run from a checkout that holds data_pipeline_kafka_ek_spark/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    # started before anything else so that its own start-up and JIT warm-up
    # run alone; set-up is counted without them
    t0 = time.time()
    canary = harness.Canary(root)
    canary.read()  # the machine's speed as set-up starts
    canary_s = time.time() - t0
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = harness.pin_env(work, root)

    import importlib

    mod = importlib.import_module(
        {"ratings_pipeline": "ratings", "cdc_merge": "cdc", "catalog_batch": "catalog"}[args.workload])
    spark = None
    spark_ref: list = []
    signal.signal(signal.SIGALRM, _on_deadline(work, spark_ref, canary))
    signal.alarm(DEADLINE_S)
    try:
        t0 = time.time()
        spark = harness.start_session(work)
        spark_ref.append(spark)
        session_s = time.time() - t0
        tracer = harness.Tracer(spark, enabled=bool(args.trace))
        harness.patch_load_table(tracer)
        ctx = Ctx(spark, tracer, canary, args.seed, args.seconds, work)
        t_work = time.time()
        res = mod.run(ctx)
        mem = harness.memory_high_water_mb(spark)
        gc = harness.jvm_gc_and_heap(spark)
    finally:
        signal.alarm(0)
        canary.close()
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    # set-up is scaled by the readings taken during it, the rest by those
    # taken in the timed phase
    split = ctx.first_timed_reading
    canary_ms = (statistics.median(canary.readings[:split]),
                 statistics.median(canary.readings[split:]))
    speed = {name: REF_CANARY_MS / canary_ms[name != "setup_s"] for name in SCALED}

    lat = res["latency"]
    latency, n_lat = res.get("latency_ms", (statistics.median(lat), len(lat)))
    e2e = {
        "setup_s": (ctx.t_setup_end - T_PROCESS - canary_s, 1),
        "peak_rss_mb": (mem["total"], 1),
        "latency_ms": (latency, n_lat),
        "work_s": (res["work_s"], res["work_n"]),
        "cpu_s": ((ctx.cpu[1] - ctx.cpu[0]) / res["cpu_units"], res["cpu_units"]),
    }
    failed_ratio = res["failed"] / max(1, res["attempted"])
    w = args.workload
    print(f"# env {json.dumps({k: v for k, v in env.items() if k != 'PYTHONPATH'})}")
    print(f"# {w} canary_ms = {canary_ms[0]:.2f} set-up (n={split}), {canary_ms[1]:.2f} timed"
          f" (n={len(canary.readings) - split}); readings"
          f" {' '.join(f'{c:.0f}' for c in canary.readings)}")
    for name, (value, n) in e2e.items():
        if name in SCALED:
            print(f"# {w} {name} = {value * speed[name]:.4f} {END_TO_END[name]} (n={n})"
                  f" scaled; raw {value:.4f}")
        else:
            print(f"# {w} {name} = {value:.4f} {END_TO_END[name]} (n={n})")
    p90_note = "" if acc.tail_supported(len(lat), 90) else \
        f"  [fewer than {acc.samples_needed(90)} samples: indicative only]"
    print(f"# {w} latency_p90_ms = {acc.percentile(lat, 90):.4f} ms (n={len(lat)}){p90_note}")
    print(f"# {w} failed_ratio = {failed_ratio:.4f} fraction (n={res['attempted']})")
    for name, (value, unit, n) in res["detail"].items():
        print(f"# {w} {name} = {value:.4f} {unit} (n={n})")
    for name, xs in res["series_ms"].items():
        print(f"# {w} series {name} ms: " + " ".join(f"{x:.0f}" for x in xs))
    for m in res.get("mismatched", []):
        print(f"# {w} MISMATCH {m}")

    if args.trace:
        lay = {name: 0.0 for name in layers.UNITS}
        lay.update(res.get("layers", {}))
        lay["session.start_s"] = session_s
        lay["warmup_s"] = ctx.t_setup_end - t_work
        lay["jvm.gc_ms"] = gc["gc_ms"]
        lay["jvm.heap_used_mb_max"] = gc["heap_used_mb_max"]
        lay["rss.jvm_mb"], lay["rss.python_mb"], lay["rss.workers_mb"] = (
            mem["jvm"], mem["python"], mem["workers"])
        unknown = set(lay) - set(layers.UNITS)
        if unknown:
            raise KeyError(f"layer metrics missing from layers.CATALOGUE: {sorted(unknown)}")
        metrics = {k: {"value": float(lay[k]), "unit": layers.UNITS[k]}
                   for k, _ in layers.PER_LAYER}
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace_{w}_seed{args.seed}.json"), "w",
                  encoding="utf-8") as fh:
            json.dump({
                "workload": w, "seed": args.seed, "seconds": args.seconds, "env": env,
                "end_to_end_traced": {k: v for k, (v, _) in e2e.items()},
                "series_ms": res["series_ms"],
                "layers": [{"name": n, "unit": u, "layer": lay_, "moves": mv,
                            "workload": wl, "value": float(lay[n])}
                           for n, u, lay_, mv, wl in layers.CATALOGUE],
                "spans": tracer.spans,
            }, fh, default=str)
        for n, u, *_ in layers.CATALOGUE:
            print(f"# {w} layer {n} = {lay[n]:.4f} {u}")
    else:
        metrics = {k: {"value": float(v * speed.get(k, 1.0)), "unit": END_TO_END[k]}
                   for k, (v, _) in e2e.items()}
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
