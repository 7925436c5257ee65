"""Server process of the serve workload: the engine's HTTP facade
(``http_server.QueryHTTPServer``) in its own process, with the
benchmark's tracing wrappers installed around ``registry.queries`` and
``http_server.collect_route_rows`` when started with ``--trace``.

Started by run.py from the repository root. It prints ``PERFBENCH {json}``
lines on stdout: one when the facade is up (port and set-up times),
then one reply per command read from stdin as a JSON line:
``trace`` (switch tracing on/off), ``stats`` (memory readings, traced
operations, spans), ``verify`` (oracle-check the named queries),
``calibrate`` (the repository's host yardstick) and ``quit``.
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402


def reply(doc) -> None:
    sys.stdout.write("PERFBENCH " + json.dumps(doc, default=str) + "\n")
    sys.stdout.flush()


class _TracedQueries(dict):
    """``registry.queries()`` result whose lookups return traced callables."""

    def __init__(self, base: dict, tracer: harness.Tracer):
        super().__init__(base)
        self._tracer = tracer

    def __getitem__(self, name):
        return self._tracer.wrap_query(super().__getitem__(name))


def install_tracing(tracer: harness.Tracer) -> None:
    """Wrap the facade's two calls into the engine. A traced request opens
    an operation (job group, spans) around ``collect_route_rows``; its
    status-store records are harvested by a background thread so the
    harvest never runs under the facade's lock."""
    from mini_hive_server_spark import http_server, registry

    orig_queries = registry.queries
    orig_collect = http_server.collect_route_rows
    pending: queue.Queue = queue.Queue()

    def queries():
        base = orig_queries()
        return _TracedQueries(base, tracer) if tracer.enabled else base

    def collect_route_rows(spark, sf_dir, name):
        if not tracer.enabled:
            return orig_collect(spark, sf_dir, name)
        op = tracer.begin(name, parent="http.request")
        ok = False
        try:
            rows = orig_collect(spark, sf_dir, name)
            ok = True
            return rows
        finally:
            pending.put(tracer.end(op, ok))

    def harvester():
        while True:
            op = pending.get()
            try:
                tracer.harvest(op)
            except Exception as e:  # keep serving; the op is reported missing
                print(f"# harvest {op['op']}: {e}", file=sys.stderr)
            finally:
                pending.task_done()

    threading.Thread(target=harvester, daemon=True).start()
    tracer.pending = pending
    registry.queries = queries
    http_server.collect_route_rows = collect_route_rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    harness.configure_env()
    from mini_hive_server_spark import registry
    from mini_hive_server_spark.http_server import QueryHTTPServer

    spark, setup, server = harness.setup(
        args.sf_dir, after_bind=lambda s: QueryHTTPServer(s, args.sf_dir)
    )
    harness.redirect_engine_scratch()
    tracer = None
    if args.trace:
        tracer = harness.Tracer(spark)
        install_tracing(tracer)
    reply({"port": server.port, "setup": setup})

    for line in sys.stdin:
        msg = json.loads(line)
        cmd, arg = msg["cmd"], msg.get("arg")
        if cmd == "trace":
            if tracer is not None:
                tracer.enabled = bool(arg)
            reply({"trace": bool(tracer and tracer.enabled)})
        elif cmd == "stats":
            doc = {"memory": harness.memory_reading(spark)}
            if tracer is not None:
                tracer.enabled = False
                tracer.pending.join()
                doc["trace_ops"] = tracer.ops
                doc["spans"] = tracer.spans
            reply(doc)
        elif cmd == "verify":
            queries = registry.queries()
            reply(harness.verify(spark, queries, arg, args.sf_dir))
        elif cmd == "calibrate":
            reply({"calibration_probe_s": harness.calibration(spark)})
        elif cmd == "quit":
            server.shutdown()
            harness.shutdown(spark)
            reply({"bye": True})
            return


if __name__ == "__main__":
    main()
