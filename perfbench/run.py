"""Benchmark entry point: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload batch-sf0.1 --seed 1 --seconds 20 --trace 0

Run it from the repository root. It starts the engine on the fixture
tables under ``perfbench/fixtures/``, runs the workload's untimed set-up
and warm-up, then a timed window of a fixed
operation sequence derived from ``--seed`` and ``--seconds``, then checks
every distinct operation against its DuckDB oracle. It prints each metric
as ``name value unit`` and, as the last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the same sequence
traced and reports the per-layer metrics, writing spans and per-operation
records to ``.perfbench/traces/``. The exit code is 1 when any output was
wrong, 2 when the engine cannot be found.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import threading
import time

T_PROC = time.perf_counter()  # process start, as near as Python gets

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402  (the benchmark's own module, beside this file)
from harness import ROOT, WORK, median, percentile, tail_choice  # noqa: E402

# Each workload: the data scale it runs on, its operations, the number of
# untimed warm passes (serve: one sequential pass, then concurrent rounds)
# and the nominal service seconds of one pass (serve: of one client's
# cycle) on a 4-core host. The timed window's pass count is fixed from
# these and --seconds, so every run with the same --seconds does
# identical work.
WORKLOADS = {
    "batch-sf0.1": {
        "sf": 0.1,
        "ops": [
            # reads: aggregate, window, Arrow-batch Python kernel, exact
            # dedup
            "q1_pricing_summary",
            "events_sessionize",
            "embedding_mapinarrow_normalize",
            "dedup_exact",
            # writes and merges: file round trip, schema merge, SCD2
            # history merge, CDC upsert
            "source_orc_roundtrip",
            "source_schema_evolution",
            "mutation_scd2_merge",
            "ingest_cdc_merge",
        ],
        "warm": 2,
        "pass_s": 4.0,
    },
    "serve-sf0.01": {
        "sf": 0.01,
        "get": [
            "/top-workers",
            "/api/notifications",
            "/payments",
            "/admin/withdrawals",
            "/api/all-tasks",
            "/submissions",
            "/admin/home",
            "/worker/tasks",
            "/admin/stats",
            "/tasks/:id",
        ],
        "warm": 3,
        "pass_s": 3.0,
    },
}


def window_passes(workload: dict, seconds: float, clients: int = 1) -> int:
    return max(1, round(seconds / (workload["pass_s"] * clients)))


def data_dir(sf: float) -> str:
    """The fixture tables of scale ``sf``: byte copies of the repository's
    TPC-H-ish test fixtures (TESTDATA.md), kept beside the benchmark so a
    run reads nothing outside its checkout."""
    return os.path.join(HERE, "fixtures", f"sf{sf}")


def summarize(samples: list[tuple[float, bool]], wall: float, setup: dict,
              mem: dict) -> tuple[dict, dict]:
    """End-to-end metrics of a window of (latency, ok) samples, plus what
    the record notes about them. A failed operation is charged the whole
    window as its latency and is not counted as completed, so failures can
    only make the latency and throughput metrics worse."""
    latencies = [lat if ok else wall for lat, ok in samples]
    good = sum(1 for _, ok in samples if ok)
    q = tail_choice(len(latencies))
    tail = percentile(latencies, q) if q else max(latencies)
    metrics = {
        "setup_s": (setup["total_s"], "s"),
        "ops_per_s": (good / wall, "1/s"),
        "latency_p50_s": (median(latencies), "s"),
        "latency_tail_s": (tail, "s"),
        "success_rate": (good / len(samples), "ratio"),
        "retained_mb": (mem["retained_mb"], "MB"),
    }
    notes = {"tail_percentile": q or "max", "samples": len(latencies)}
    return metrics, notes


def layer_metrics(ops: list[dict], setup: dict, mem: dict) -> dict:
    """Per-layer metrics: each per-op field summed over the traced window
    and its median per operation; set-up layers from the cold set-up."""
    out = {
        "session.start_s": (setup["session_s"], "s"),
        "catalog.load_tables_s": (setup["load_tables_s"], "s"),
        "process.peak_rss_mb": (mem["peak_rss_mb"], "MB"),
    }
    for field, name, unit in harness.LAYER_FIELDS:
        vals = [op.get(field, 0.0) for op in ops]
        if field == "core_util":
            wall = sum(op["wall_s"] for op in ops)
            busy = sum(op["task_busy_s"] for op in ops)
            out[f"{name}.all"] = (busy / (wall * (os.cpu_count() or 1)) if wall else 0.0, unit)
        else:
            out[f"{name}.sum"] = (sum(vals), unit)
        out[f"{name}.p50"] = (median(vals), unit)
    for field, name in (("request_s", "http_server.request_s"),
                        ("service_s", "http_server.service_s"),
                        ("wait_s", "http_server.wait_s")):
        vals = [op[field] for op in ops if field in op]
        out[f"{name}.sum"] = (sum(vals), "s")
        out[f"{name}.p50"] = (median(vals), "s")
    stab = harness.py4j_stability(ops)
    out["registry.py4j_unstable_queries"] = (
        sum(1 for v in stab.values() if len(v) > 1), "count")
    return out


# ---------------------------------------------------------------- single client
def run_single(name: str, seed: int, seconds: float, trace: bool) -> dict:
    wl = WORKLOADS[name]
    harness.configure_env()
    sf_dir = data_dir(wl["sf"])
    spark, setup, _ = harness.setup(sf_dir)
    setup["total_s"] = time.perf_counter() - T_PROC  # cold: from process start
    harness.redirect_engine_scratch()
    from mini_hive_server_spark import registry
    from mini_hive_server_spark.persistence import release_tracked

    queries = registry.queries()
    ops = wl["ops"]
    tracer = harness.Tracer(spark) if trace else None
    traced_q = {n: tracer.wrap_query(queries[n]) for n in ops} if trace else {}

    def run_op(op_name: str, traced: bool) -> tuple[float, bool, float]:
        """Run one op; return (latency, ok, seconds spent harvesting)."""
        rec = tracer.begin(op_name) if traced else None
        t0 = time.perf_counter()
        ok = True
        try:
            if traced:
                df = traced_q[op_name](spark, sf_dir)
            else:
                release_tracked()
                df = queries[op_name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # counted as failed, reported below
            ok = False
            print(f"# {op_name} failed: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
        lat = time.perf_counter() - t0
        if not traced:
            return lat, ok, 0.0
        h0 = time.perf_counter()
        tracer.harvest(tracer.end(rec, ok))
        return lat, ok, time.perf_counter() - h0

    warm = []
    for p in range(wl["warm"]):
        t0 = time.perf_counter()
        for op_name in harness.ordered_ops(ops, seed, -1 - p):
            run_op(op_name, False)
        warm.append(time.perf_counter() - t0)

    passes = window_passes(wl, seconds)
    # traced runs interleave untraced and traced passes in ABBA order (so
    # warm-up drift cancels out of the overhead); the traced half holds as
    # many ops as an untraced window
    total_passes = 2 * passes if trace else passes
    host0 = harness.host_reading()
    lat: dict[bool, list[tuple[str, float, bool]]] = {False: [], True: []}
    op_lat: dict[str, list[float]] = {}
    pass_s = {False: [], True: []}
    for p in range(total_passes):
        traced = trace and p % 4 in (1, 2)
        t0 = time.perf_counter()
        harvest = 0.0
        for op_name in harness.ordered_ops(ops, seed, p // 2 if trace else p):
            l, ok, h = run_op(op_name, traced)
            harvest += h
            lat[traced].append((op_name, l, ok))
            op_lat.setdefault(op_name, []).append(l)
        pass_s[traced].append(time.perf_counter() - t0 - harvest)
    host1 = harness.host_reading()
    mem = harness.memory_reading(spark)
    verified = harness.verify(spark, queries, ops, sf_dir)
    samples = {t: [(l, ok and verified[n]["ok"]) for n, l, ok in lat[t]] for t in lat}
    calib = harness.calibration(spark) if trace else None
    harness.shutdown(spark)

    metrics, notes = summarize(samples[trace], sum(pass_s[trace]), setup, mem)
    everything = samples[False] + samples[True]
    record = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": trace,
        "nproc": os.cpu_count(), "sf": wl["sf"], "ops": ops,
        "window_passes": passes, "warm_pass_s": warm,
        "pass_s": pass_s[trace], "op_latency_s": op_lat, "setup": setup, "memory": mem,
        "steal_s": host1.get("steal_s", 0) - host0.get("steal_s", 0),
        "load1": host1.get("load1"), "calibration_probe_s": calib,
        "verified": verified, "notes": notes, "attempted": len(everything),
        "failed": sum(1 for _, ok in everything if not ok),
    }
    if trace:
        untraced_rate = len(lat[False]) / sum(pass_s[False])
        traced_rate = len(lat[True]) / sum(pass_s[True])
        record["layers"] = layer_metrics(tracer.ops, setup, mem)
        record["layers"]["trace.ops_per_s_untraced"] = (untraced_rate, "1/s")
        record["layers"]["trace.ops_per_s_traced"] = (traced_rate, "1/s")
        record["layers"]["trace.overhead_frac"] = (untraced_rate / traced_rate - 1, "ratio")
        record["py4j_counts"] = harness.py4j_stability(tracer.ops)
        record["trace_ops"] = tracer.ops
        record["spans"] = tracer.spans
    record["metrics"] = metrics
    return record


# ---------------------------------------------------------------------- serve
class ServerProcess:
    """The HTTP facade in its own process (perfbench/serve_server.py),
    driven over a line protocol on its stdin/stdout."""

    def __init__(self, sf_dir: str, trace: bool):
        cmd = [sys.executable, os.path.join(HERE, "serve_server.py"),
               "--sf-dir", sf_dir]
        if trace:
            cmd.append("--trace")
        self.proc = subprocess.Popen(
            cmd, cwd=ROOT, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            text=True, bufsize=1,
        )
        self.ready = self._read()

    def _read(self) -> dict:
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError("serve_server exited early")
            if line.startswith("PERFBENCH "):
                return json.loads(line[len("PERFBENCH "):])

    def call(self, command: str, arg=None) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": command, "arg": arg}) + "\n")
        self.proc.stdin.flush()
        return self._read()

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.call("quit")
            except (RuntimeError, OSError, ValueError):
                pass
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def http_get(port: int, path: str) -> tuple[int, int]:
    """One request; return (status, rows)."""
    import http.client

    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        body = resp.read()
        status = resp.status
    finally:
        conn.close()
    rows = -1
    if status == 200:
        doc = json.loads(body)
        rows = len(doc) if isinstance(doc, list) else 1
    return status, rows


def run_serve(name: str, seed: int, seconds: float, trace: bool) -> dict:
    wl = WORKLOADS[name]
    harness.configure_env()
    sf_dir = data_dir(wl["sf"])
    from mini_hive_server_spark import http_server
    from mini_hive_server_spark.plans.reference_model import _TASK_DETAIL_OID

    def route(path: str) -> tuple[str, str]:
        if path == "/tasks/:id":
            return f"/tasks/{_TASK_DETAIL_OID}", "ref_task_detail"
        return path, http_server.ROUTES[path]

    gets = [route(p) for p in wl["get"]]
    clients = os.cpu_count() or 1
    server = ServerProcess(sf_dir, trace)
    try:
        # cold: from this process's start until the facade is up
        setup = dict(server.ready["setup"], total_s=time.perf_counter() - T_PROC)
        port = server.ready["port"]
        rounds = window_passes(wl, seconds, clients)

        def window(first: int, n: int, traced: bool) -> tuple[list[dict], float]:
            """Rounds first..first+n-1: every client runs one cycle per round."""
            server.call("trace", traced)
            log: list[dict] = []
            lock = threading.Lock()

            def client(i: int) -> None:
                for c in range(first, first + n):
                    for path, qname in harness.ordered_ops(gets, seed, i * 1000 + c):
                        # wall clock start/end, for matching server-side spans
                        t0, w0 = time.perf_counter(), time.time()
                        try:
                            st, rows = http_get(port, path)
                        except Exception as e:  # a failed request, counted below
                            print(f"# {path}: {type(e).__name__}: {e}", file=sys.stderr)
                            st, rows = 0, -1
                        lat, w1 = time.perf_counter() - t0, time.time()
                        with lock:
                            log.append({"name": qname, "path": path, "status": st,
                                        "rows": rows, "request_s": lat,
                                        "w0": w0, "w1": w1, "client": i})

            t0 = time.perf_counter()
            threads = [threading.Thread(target=client, args=(i,)) for i in range(clients)]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            return log, time.perf_counter() - t0

        # warm-up: one sequential pass (each route's first call), then
        # concurrent rounds shaped like the window
        t0 = time.perf_counter()
        for path, _ in gets:
            http_get(port, path)
        warm = [time.perf_counter() - t0]
        warm += [window(-k, 1, False)[1] for k in range(wl["warm"] - 1, 0, -1)]

        host0 = harness.host_reading()
        # a traced run traces the window that follows warm-up, as the
        # untraced run times it, then repeats it untraced to measure the
        # tracing overhead (later, so drift can only overstate it)
        traced_log, traced_wall = window(0, rounds, True) if trace else ([], 0.0)
        base_log, base_wall = window(0, rounds, False)
        host1 = harness.host_reading()
        stats = server.call("stats")
        names = sorted({q for _, q in gets})
        verified = server.call("verify", names)
        calib = server.call("calibrate")["calibration_probe_s"] if trace else None
    finally:
        server.close()

    log = traced_log if trace else base_log
    wall = traced_wall if trace else base_wall

    def ok(r: dict) -> bool:
        v = verified[r["name"]]
        return r["status"] == 200 and v["ok"] and r["rows"] == v["rows"]

    samples = [(r["request_s"], ok(r)) for r in log]
    metrics, notes = summarize(samples, wall, setup, stats["memory"])
    everything = traced_log + base_log
    record = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": trace,
        "nproc": os.cpu_count(), "sf": wl["sf"], "clients": clients,
        "routes": wl["get"], "window_rounds": rounds,
        "warm_pass_s": warm, "setup": setup,
        "steal_s": host1.get("steal_s", 0) - host0.get("steal_s", 0),
        "load1": host1.get("load1"), "calibration_probe_s": calib,
        "verified": verified, "notes": notes, "attempted": len(everything),
        "failed": sum(1 for r in everything if not ok(r)),
        "memory": stats["memory"], "requests": log,
    }
    if trace:
        ops = _match_requests(traced_log, stats["trace_ops"])
        record["layers"] = layer_metrics(ops, setup, stats["memory"])
        untraced_rate, traced_rate = len(base_log) / base_wall, len(traced_log) / traced_wall
        record["layers"]["trace.ops_per_s_untraced"] = (untraced_rate, "1/s")
        record["layers"]["trace.ops_per_s_traced"] = (traced_rate, "1/s")
        record["layers"]["trace.overhead_frac"] = (untraced_rate / traced_rate - 1, "ratio")
        record["py4j_counts"] = harness.py4j_stability(ops)
        record["trace_ops"] = ops
        record["spans"] = stats["spans"] + [
            {"op": r.get("op"), "name": "http.request", "start": r["w0"],
             "end": r["w1"], "parent": None} for r in traced_log
        ]
    record["metrics"] = metrics
    return record


def _match_requests(log: list[dict], server_ops: list[dict]) -> list[dict]:
    """Pair each client request with the server-side operation of the same
    query that ended last before the reply arrived; the op then carries
    request, service and wait seconds."""
    free = sorted(server_ops, key=lambda o: o["t3"])
    out = []
    for r in sorted(log, key=lambda r: r["w1"]):
        best = None
        for o in free:
            if o["name"] == r["name"] and r["w0"] <= o["t0"] and o["t3"] <= r["w1"]:
                best = o
        if best is None:
            continue
        free.remove(best)
        best["request_s"] = r["request_s"]
        best["service_s"] = best["t3"] - best["t0"]
        best["wait_s"] = r["request_s"] - best["service_s"]
        r["op"] = best["op"]
        out.append(best)
    return out


# ----------------------------------------------------------------------- main
def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in ("mini_hive_server_spark/__init__.py", "tests/oracle_harness.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2

    runner = run_serve if "get" in WORKLOADS[args.workload] else run_single
    record = runner(args.workload, args.seed, args.seconds, bool(args.trace))

    out_dir = os.path.join(WORK, "traces" if args.trace else "runs")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    shown = record["layers"] if args.trace else record["metrics"]
    for key, (value, unit) in shown.items():
        print(f"{key} {value:.6g} {unit}")
    bad = {n: v["problems"] for n, v in record["verified"].items() if not v["ok"]}
    if bad:
        print(f"# verification failed: {json.dumps(bad)[:2000]}", file=sys.stderr)
    result = {
        "correct": not bad and record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
