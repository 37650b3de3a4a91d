"""Run scaffolding shared by the workloads: the pinned environment, the
Spark session, process memory high-water marks, and the tracer.

The tracer records spans from the benchmark's own side of each public call
(name, start, end, parent, op id) and, at the end of a traced run, joins
them with what Spark already keeps: jobs and stages from the status store
(attributed to ops through the job group set around each op), Python-worker
SQL metrics, and py4j round trips counted at the gateway client. With
tracing off every hook is a no-op, so end-to-end runs pay nothing for it.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import re
import resource
import shutil
import statistics
import subprocess
import sys
import time

# Heap for the single local-mode JVM. Fixed so that memory and GC behaviour
# do not follow the size of whatever machine the benchmark lands on.
DRIVER_MEM = "3g"

# Retain every job, stage and SQL execution of a run in the status store
# (the defaults keep the last 1000, fewer than one run makes). The same
# settings apply with tracing off, so both modes run the same session.
SESSION_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.sql.ui.retainedExecutions": "1000000",
    "spark.ui.showConsoleProgress": "false",
}


def usable_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pin_env(work_dir: str, root: str) -> dict:
    """Pin every setting the measurement depends on; return them so the
    run can report what it ran under."""
    env = {
        "SPARK_GRAFT_CPUS": str(usable_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "TMPDIR": os.path.join(work_dir, "tmp"),
        "PYTHONHASHSEED": "0",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[k], exist_ok=True)
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = env["TMPDIR"]
    return env


def start_session(work_dir: str):
    from data_pipeline_kafka_ek_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    conf = dict(SESSION_CONF)
    conf["spark.sql.warehouse.dir"] = os.path.join(work_dir, "warehouse")
    conf["spark.driver.extraJavaOptions"] = f"-Djava.io.tmpdir={tmp}"
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Canary:
    """Machine-speed readings from ``canary/Canary.java``: fixed JVM work on
    every usable CPU, in a JVM of its own that shares nothing with the
    program. It is compiled once per checkout into ``.perfbench_build/``
    and started before the program's session; each ``read()`` runs one rep
    (about 0.2 s) and returns the median CPU time of its threads."""

    def __init__(self, root: str):
        src = os.path.join(os.path.dirname(os.path.abspath(__file__)), "canary", "Canary.java")
        out = os.path.join(root, ".perfbench_build", "canary")
        cls = os.path.join(out, "Canary.class")
        if not os.path.exists(cls) or os.path.getmtime(cls) < os.path.getmtime(src):
            tmp = f"{out}.{os.getpid()}"
            subprocess.run(["javac", "-J-XX:-UsePerfData", "-d", tmp, src], check=True)
            os.makedirs(out, exist_ok=True)
            os.replace(os.path.join(tmp, "Canary.class"), cls)
            shutil.rmtree(tmp)
        self.proc = subprocess.Popen(
            ["java", "-XX:-UsePerfData", "-Xms256m", "-Xmx256m", "-XX:+UseParallelGC",
             "-cp", out, "Canary",
             str(usable_cpus())],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        if self.proc.stdout.readline().strip() != "ready":
            raise RuntimeError("canary did not start")
        self.readings: list[float] = []

    def read(self) -> float:
        self.proc.stdin.write("\n")
        self.proc.stdin.flush()
        ms = statistics.median(float(x) for x in self.proc.stdout.readline().split())
        self.readings.append(ms)
        return ms

    def close(self) -> None:
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=10)
        except Exception:
            self.proc.kill()
            self.proc.wait(timeout=5)


def noop_write(df) -> None:
    """Materialize every output column without collecting (as bench.py)."""
    df.write.format("noop").mode("overwrite").save()


# -- process memory ---------------------------------------------------------


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
            for ln in fh:
                if ln.startswith(field + ":"):
                    return int(ln.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> "list[int]":
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children", encoding="utf-8") as fh:
                kids.extend(int(x) for x in fh.read().split())
    except OSError:
        pass
    return kids


def descendants(pid: int) -> "list[int]":
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def cpu_seconds(spark) -> float:
    """CPU time used so far by this process, the JVM and the JVM's Python
    workers (user + system, including reaped children). CPU steal and
    neighbours' load add wall time but not CPU time."""
    t = os.times()
    total = t.user + t.system
    tick = os.sysconf("SC_CLK_TCK")
    jpid = jvm_pid(spark)
    for pid in [jpid] + descendants(jpid):
        try:
            with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15]) / tick
    return total


def memory_high_water_mb(spark) -> dict:
    """Kernel high-water marks (never sampled): the JVM, this Python
    process, and every Python worker the JVM forked that is still alive."""
    jpid = jvm_pid(spark)
    workers = descendants(jpid)
    jvm = _status_kb(jpid, "VmHWM") / 1024.0
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    wk = sum(_status_kb(p, "VmHWM") for p in workers) / 1024.0
    return {"jvm": jvm, "python": py, "workers": wk, "total": jvm + py + wk}


def jvm_gc_and_heap(spark) -> dict:
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    heap = 0
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType().toString()) == "Heap memory":
            heap += pool.getPeakUsage().getUsed()
    return {"gc_ms": float(gc_ms), "heap_used_mb_max": heap / 2**20}


# -- tracing ----------------------------------------------------------------


class Tracer:
    """Spans in memory; Spark-side facts harvested once at the end."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self.py4j_calls = 0
        self.ops: dict[str, dict] = {}
        self._mapper = None
        if enabled:
            self._count_py4j()

    def _count_py4j(self) -> None:
        client = self.spark.sparkContext._gateway._gateway_client
        inner = client.send_command

        def counted(*a, **kw):
            self.py4j_calls += 1
            return inner(*a, **kw)

        client.send_command = counted

    @contextlib.contextmanager
    def span(self, name: str, op: "str | None" = None, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent - 1]["op"]
        rec = {"id": sid, "name": name, "parent": parent, "op": op,
               "start": time.time(), "end": None, "py4j": self.py4j_calls}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            rec["py4j"] = self.py4j_calls - rec["py4j"]

    @contextlib.contextmanager
    def op(self, op_id: str, kind: str, **attrs):
        """One unit of work: its Spark jobs carry ``op_id`` as job group."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, kind)
        self.ops[op_id] = {"kind": kind, **attrs}
        try:
            with self.span(kind, op=op_id, **attrs) as rec:
                yield rec
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    # -- harvest -----------------------------------------------------------

    def jvm_json(self, obj):
        """A JVM object (Scala collections included) as Python data, in one
        py4j round trip instead of one per field."""
        if self._mapper is None:
            jvm = self.spark._jvm
            self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
            self._mapper.registerModule(getattr(scala, "MODULE$"))
        return json.loads(self._mapper.writeValueAsString(obj))

    def harvest(self) -> dict:
        """Jobs, stages and Python-worker SQL metrics from the JVM stores,
        serialized in one call each (not one py4j round trip per field)."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jobs = self.jvm_json(store.jobsList(None))
        stages = self.jvm_json(store.stageList(
            None, False, False, sc._gateway.new_array(self.spark._jvm.double, 0), None
        ))
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = []
        lst = sql.executionsList()
        for i in range(lst.size()):
            e = lst.apply(i)
            py = [x for x in self.jvm_json(e.metrics()) if "Python workers" in x["name"]]
            if not py:
                continue
            vals = e.metricValues()
            vals = self.jvm_json(vals) if vals is not None else {}
            agg: dict[str, float] = {}
            for x in py:
                v = vals.get(str(x["accumulatorId"]))
                if v is not None and x["metricType"] == "timing":
                    agg[x["name"]] = agg.get(x["name"], 0.0) + parse_timing_ms(v)
            execs.append({"jobs": [int(k) for k in self.jvm_json(e.jobs())], "python": agg})
        return {"jobs": jobs, "stages": {s["stageId"]: s for s in stages}, "sql": execs}


_UNIT_MS = {"ms": 1.0, "s": 1000.0, "min": 60_000.0, "h": 3_600_000.0}


def parse_timing_ms(text: str) -> float:
    """Total from a SQL timing metric string such as
    ``'total (min, med, max (stageId: taskId))\\n10.3 s (2.4 s, ...)'``."""
    last = text.strip().splitlines()[-1]
    m = re.match(r"\s*([0-9.]+)\s*(ms|s|min|h)\b", last)
    if not m:
        return 0.0
    return float(m.group(1)) * _UNIT_MS[m.group(2)]


def interval_union_ms(intervals: "list[tuple[float, float]]") -> float:
    """Total length covered by possibly-overlapping [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_interval_ms(job: dict) -> "tuple[float, float] | None":
    s, e = job.get("submissionTime"), job.get("completionTime")
    if s is None or e is None:
        return None
    return float(s), float(e)


def patch_load_table(tracer: Tracer) -> None:
    """Route every module's ``load_table`` through a span (traced runs)."""
    if not tracer.enabled:
        return
    from data_pipeline_kafka_ek_spark.sources import tables

    orig = tables.load_table

    def traced(*a, **kw):
        with tracer.span("tables.load"):
            return orig(*a, **kw)

    for mod in list(sys.modules.values()):
        if getattr(mod, "load_table", None) is orig:
            mod.load_table = traced
