"""In-process side of the benchmark: set-up, the operation runner,
the tracer, verification and memory/host readings.

Everything here runs in a process that owns a Spark session (the
single-client workloads' own process, or the serve workload's server
process). The engine is driven only through its public entry points:
``session.get_spark``, ``catalog.load_tables``, ``registry.queries``,
``persistence.release_tracked`` and ``http_server``. The tracer wraps calls
into those functions from the outside; nothing in the engine is edited.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")

# Python-worker metrics of the SQL status store (PythonSQLMetrics)
_PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "data sent to Python workers": "python_mb",
}
_UNIT = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
}
_MB = 1 / 2**20


def configure_env() -> None:
    """Point every scratch location the engine, Spark and the JVM write to
    inside the checkout, and size Spark to the host. Must run before the
    first JVM starts."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(WORK, "warehouse")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def redirect_engine_scratch() -> None:
    """The source connectors and the streaming file sources stage their
    copies under a fixed root; keep those writes inside the checkout too."""
    from mini_hive_server_spark.sources import connectors

    connectors._TMP_ROOT = os.path.join(WORK, "tmp", "mhs_spark_sources")


def setup(sf_dir: str, after_bind=None):
    """Start a session and bind the tables; return the session, the
    timings and the result of ``after_bind(spark)`` (server boot for the
    serve workload), which is timed as part of the set-up."""
    from mini_hive_server_spark.catalog import load_tables
    from mini_hive_server_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t1 = time.perf_counter()
    load_tables(spark, sf_dir)
    t2 = time.perf_counter()
    extra = after_bind(spark) if after_bind is not None else None
    t3 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {"session_s": t1 - t0, "load_tables_s": t2 - t1, "boot_s": t3 - t2}, extra


def shutdown(spark) -> None:
    """Stop the session, then end the JVM the session started (it exits
    when its stdin closes; its Python daemon follows) and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def ordered_ops(ops: list[str], seed: int, pass_no: int) -> list[str]:
    """The ops of one pass, rotated by an offset drawn from the seed."""
    import random

    k = random.Random(seed * 1_000_003 + pass_no).randrange(len(ops))
    return ops[k:] + ops[:k]


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def tail_choice(n: int) -> int | None:
    """Highest of p75/p90/p95/p99 that leaves at least ten of ``n``
    samples above it, or None when even p75 does not."""
    for q in (99, 95, 90, 75):
        if n - -(-q * n // 100) >= 10:
            return q
    return None


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _parse_metric(text: str | None) -> float:
    """A formatted SQL-metric value ('total (min, med, max ...)\\n10.9 s
    (...)' or '10.9 s') as a number in seconds or MiB."""
    if not text:
        return 0.0
    last = text.strip().splitlines()[-1].split(" (")[0].strip()
    m = re.fullmatch(r"([0-9.,]+)\s*([A-Za-z]+)", last)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 0.0)


class Tracer:
    """Spans and status-store records for traced operations.

    ``begin``/``end`` bracket one operation on the calling thread; while an
    operation is open the wrapped registry callables record the release and
    build spans, and py4j commands sent during the build are counted
    (proxy-release commands excluded). ``harvest`` reads the operation's
    jobs, stages and SQL executions from Spark's in-process status stores
    by job group, right after the operation, before retention evicts them.
    """

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.ops: list[dict] = []
        self.spans: list[dict] = []
        self._local = threading.local()
        self._ids = itertools.count()
        self._lock = threading.Lock()
        jvm = spark._jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = jvm.java.lang.Class.forName(
            "com.fasterxml.jackson.module.scala.DefaultScalaModule$"
        )
        self._json.registerModule(scala.getField("MODULE$").get(None))
        self._install_py4j_counter()

    # -- wrappers -------------------------------------------------------
    def _install_py4j_counter(self) -> None:
        from py4j.java_gateway import GatewayClient

        local = self._local
        orig = GatewayClient.send_command

        def send_command(client, command, *a, **kw):
            if getattr(local, "count_py4j", False) and not command.startswith("m\nd\n"):
                local.op["py4j_calls"] += 1
            return orig(client, command, *a, **kw)

        GatewayClient.send_command = send_command

    def wrap_query(self, fn):
        """Registry callable -> the same callable, recording the explicit
        ``persistence.release`` span and the ``registry.build`` span of the
        open operation (if any). The release is run here, so the registry
        wrapper's own release call finds nothing left to release."""
        from mini_hive_server_spark.persistence import release_tracked

        local = self._local

        def traced(spark, sf_dir):
            op = getattr(local, "op", None)
            if op is None:
                return fn(spark, sf_dir)
            t0 = time.time()
            release_tracked()
            t1 = time.time()
            local.count_py4j = True
            try:
                return fn(spark, sf_dir)
            finally:
                local.count_py4j = False
                op["t_release"], op["t_build"], op["t_built"] = t0, t1, time.time()

        return traced

    # -- operations -----------------------------------------------------
    def begin(self, name: str, parent: str | None = None) -> dict:
        op = {"op": f"op{next(self._ids)}", "name": name, "parent": parent,
              "py4j_calls": 0, "t0": time.time()}
        op["group"] = f"perfbench-{op['op']}"
        op["sql_before"] = int(self._sql.executionsCount())
        self.spark.sparkContext.setJobGroup(op["group"], name, False)
        self._local.op = op
        return op

    def end(self, op: dict, ok: bool) -> dict:
        op["t3"] = time.time()
        op["ok"] = ok
        self._local.op = None
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return op

    def harvest(self, op: dict) -> dict:
        """Attach the operation's job/stage/SQL records and derived layer
        metrics; return the op record."""
        J = self._json
        t0, t3 = op["t0"], op["t3"]
        t_rel = op.get("t_release", t0)
        t_build, t_built = op.get("t_build", t_rel), op.get("t_built", t_rel)
        jobs, stage_ids = [], set()
        job_ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(op["group"])
        for jid in job_ids:
            d = json.loads(J.writeValueAsString(self._store.job(jid)))
            sub = d.get("submissionTime") or 0
            done = d.get("completionTime") or int(t3 * 1000)
            jobs.append((sub / 1000, done / 1000))
            stage_ids.update(d.get("stageIds") or [])
        m = dict.fromkeys(
            ("stages", "tasks", "task_busy_s", "gc_s", "shuffle_write_mb",
             "shuffle_read_mb", "spill_mb", "input_mb", "output_mb"), 0.0)
        for sid in stage_ids:
            try:
                s = json.loads(J.writeValueAsString(self._store.lastStageAttempt(sid)))
            except Exception:  # evicted or never attempted
                continue
            if s.get("status") == "SKIPPED":
                continue
            m["stages"] += 1
            m["tasks"] += s.get("numCompleteTasks", 0)
            m["task_busy_s"] += s.get("executorRunTime", 0) / 1000
            m["gc_s"] += s.get("jvmGcTime", 0) / 1000
            m["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) * _MB
            m["shuffle_read_mb"] += s.get("shuffleReadBytes", 0) * _MB
            m["spill_mb"] += s.get("diskBytesSpilled", 0) * _MB
            m["input_mb"] += s.get("inputBytes", 0) * _MB
            m["output_mb"] += s.get("outputBytes", 0) * _MB
        py = dict.fromkeys(_PY_METRICS.values(), 0.0)
        job_set = {str(j) for j in job_ids}
        n_exec = int(self._sql.executionsCount())
        if n_exec > op["sql_before"] and job_set:
            execs = self._sql.executionsList(op["sql_before"], n_exec - op["sql_before"])
            for i in range(execs.size()):
                e = execs.apply(i)
                if not job_set & set(json.loads(J.writeValueAsString(e.jobs()))):
                    continue
                vals = json.loads(J.writeValueAsString(self._sql.executionMetrics(e.executionId())))
                seen = set()
                for pm in json.loads(J.writeValueAsString(e.metrics())):
                    key = _PY_METRICS.get(pm["name"])
                    acc = pm["accumulatorId"]
                    if key and acc not in seen:
                        seen.add(acc)
                        py[key] += _parse_metric(vals.get(str(acc)))
        wall = t3 - t0
        job_s = union_s(jobs, t0, t3)
        build_s = t_built - t_build
        op.update(m)
        op.update(py)
        op.update(
            wall_s=wall,
            release_s=t_build - t_rel,
            build_s=build_s,
            exec_s=t3 - t_built,
            unattributed_s=wall - (t3 - t_rel),
            plan_s=build_s - union_s(jobs, t_build, t_built),
            build_jobs=sum(1 for a, _ in jobs if t_build <= a <= t_built),
            jobs=len(jobs),
            job_s=job_s,
            gap_s=wall - job_s,
            core_util=m["task_busy_s"] / (wall * (os.cpu_count() or 1)) if wall > 0 else 0.0,
        )
        for a, b in jobs:
            self._span(op, "spark.job", a, b, "registry.build" if t_build <= a <= t_built else "operators.exec")
        self._span(op, "persistence.release", t_rel, t_build, "operation")
        self._span(op, "registry.build", t_build, t_built, "operation")
        self._span(op, "operators.exec", t_built, t3, "operation")
        self._span(op, "operation", t0, t3, op.get("parent"))
        op.pop("sql_before", None)
        with self._lock:
            self.ops.append(op)
        return op

    def _span(self, op, name, start, end, parent) -> None:
        with self._lock:
            self.spans.append({"op": op["op"], "name": name, "start": start,
                               "end": end, "parent": parent})


# per-op fields aggregated into per-layer metrics: (field, layer metric, unit)
LAYER_FIELDS = (
    ("release_s", "persistence.release_s", "s"),
    ("build_s", "registry.build_s", "s"),
    ("plan_s", "registry.plan_s", "s"),
    ("build_jobs", "registry.build_jobs", "count"),
    ("py4j_calls", "registry.py4j_calls", "count"),
    ("exec_s", "operators.exec_s", "s"),
    ("jobs", "operators.jobs", "count"),
    ("stages", "operators.stages", "count"),
    ("tasks", "operators.tasks", "count"),
    ("job_s", "operators.job_s", "s"),
    ("gap_s", "operators.gap_s", "s"),
    ("task_busy_s", "operators.task_busy_s", "s"),
    ("core_util", "operators.core_util", "ratio"),
    ("gc_s", "operators.gc_s", "s"),
    ("shuffle_write_mb", "operators.shuffle_write_mb", "MB"),
    ("shuffle_read_mb", "operators.shuffle_read_mb", "MB"),
    ("spill_mb", "operators.spill_mb", "MB"),
    ("input_mb", "operators.input_mb", "MB"),
    ("output_mb", "operators.output_mb", "MB"),
    ("python_run_s", "operators.python_run_s", "s"),
    ("python_start_s", "operators.python_start_s", "s"),
    ("python_mb", "operators.python_mb", "MB"),
    ("wall_s", "operation.wall_s", "s"),
    ("unattributed_s", "operation.unattributed_s", "s"),
)


def py4j_stability(ops: list[dict]) -> dict[str, list[int]]:
    """Per query name, the distinct py4j build-call counts seen across its
    traced invocations; a stable query has exactly one."""
    seen: dict[str, set[int]] = {}
    for op in ops:
        seen.setdefault(op["name"], set()).add(op["py4j_calls"])
    return {k: sorted(v) for k, v in sorted(seen.items())}


def verify(spark, queries: dict, names: list[str], sf_dir: str) -> dict[str, dict]:
    """Compare each named query once against its DuckDB oracle; return
    {name: {"ok", "rows", "problems"}}."""
    from mini_hive_server_spark import registry

    if os.path.join(ROOT, "tests") not in sys.path:
        sys.path.insert(0, os.path.join(ROOT, "tests"))
    from oracle_harness import compare, run_duckdb_oracle

    oracles = registry.oracles()
    out = {}
    for name in names:
        try:
            problems = compare(name, queries[name](spark, sf_dir), oracles[name], sf_dir)
            rows = run_duckdb_oracle(oracles[name], sf_dir).num_rows
        except Exception as e:  # a failing query is a verification failure
            problems, rows = [f"{type(e).__name__}: {e}"], -1
        out[name] = {"ok": not problems, "rows": rows, "problems": problems[:3]}
    return out


def calibration(spark) -> float | None:
    """``bench._calibration_probe``: the repository's host yardstick."""
    try:
        import bench

        return bench._calibration_probe(spark)
    except Exception as e:  # metadata only: never fails the run
        print(f"# calibration probe failed: {e}", file=sys.stderr)
        return None


def _status_mb(pid: int | str, key: str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def memory_reading(spark) -> dict:
    """Peak and current resident memory (MB) of this Python process and
    its Spark JVM, plus the JVM heap before and after a full collection.
    ``retained_mb`` (Python peak RSS + JVM heap live after the collection)
    is what the run holds; ``peak_rss_mb`` adds the JVM's peak RSS, which
    mostly follows the collector's heap sizing and varies by a third
    between identical runs."""
    jvm = spark._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    rt = jvm.java.lang.Runtime.getRuntime()
    out = {
        "py_hwm": _status_mb("self", "VmHWM"), "jvm_hwm": _status_mb(pid, "VmHWM"),
        "jvm_rss": _status_mb(pid, "VmRSS"),
        "heap_committed": rt.totalMemory() / 2**20,
        "heap_used": (rt.totalMemory() - rt.freeMemory()) / 2**20,
    }
    # drop the last operation's tracked blocks first: which operation ran
    # last depends on the seed, and its blocks are not what the run holds
    import gc

    from mini_hive_server_spark.persistence import release_tracked

    release_tracked()
    pending = getattr(spark.sparkContext._gateway._gateway_client, "finalizer_deque", ())
    used = None
    for _ in range(4):  # collect until the live heap stops shrinking
        gc.collect()  # frees Python-side proxies, and with them JVM references
        deadline = time.monotonic() + 10
        while pending and time.monotonic() < deadline:  # py4j sends the
            time.sleep(0.05)  # releases from a background worker
        time.sleep(0.5)  # unpersist and Spark's ContextCleaner are asynchronous
        jvm.java.lang.System.gc()
        now = (rt.totalMemory() - rt.freeMemory()) / 2**20
        if used is not None and now >= used * 0.99:
            break
        used = now
    out["heap_used_after_gc"] = min(used, now)
    out["jvm_rss_after_gc"] = _status_mb(pid, "VmRSS")
    out["peak_rss_mb"] = out["py_hwm"] + out["jvm_hwm"]
    out["retained_mb"] = out["py_hwm"] + out["heap_used_after_gc"]
    return out


def host_reading() -> dict:
    """CPU steal seconds (cumulative) and load1 from /proc."""
    out = {}
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        out["steal_s"] = int(parts[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        pass
    try:
        with open("/proc/loadavg") as f:
            out["load1"] = float(f.read().split()[0])
    except (OSError, ValueError):
        pass
    return out


def median(values):
    return statistics.median(values) if values else 0.0
