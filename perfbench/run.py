"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload hier_report --seed 1 --seconds 5 --trace 0

Run from the repository root. The run starts its own local Spark
session through ``session.get_spark``, generates its inputs from the
seed, builds and warms every operation type untimed, then runs
whole rounds of the workload's fixed operation sequence, one client in
a closed loop, until ``--seconds`` have passed. Outputs are checked
against independent computations after the loop. The last line of
standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run also records spans, per-span Spark event-log
totals, py4j and fsio call counts and CPU time, and reports per-layer
metrics instead. The line before it is a JSON detail record (per-kind
latencies, host steal, tracing numbers). Scratch data lives under
``.perfbench/`` and is removed at the end; traced runs leave their
spans in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import tracing  # noqa: E402  (stdlib-only; the program is imported later)

ENGINE = ("jobs", "stages", "tasks", "task_s", "gc_s", "shuffle_write_bytes",
          "input_bytes", "spill_bytes")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> int:
    """Point every scratch location of Spark, the JVM and Python into
    ``work`` and size the program's session to the cores used."""
    cores = min(4, len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the program too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile
    tempfile.tempdir = tmp
    return cores


class View:
    """Per-span Spark totals of a traced run, rolled up to operations."""

    def __init__(self, spans: list, by_span: dict):
        self.spans = spans
        self.children: dict = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)
        self.by_span = by_span
        self._tot: dict = {}

    def totals(self, s: dict) -> dict:
        if s["id"] not in self._tot:
            t = dict(self.by_span.get(s["id"], {}))
            for c in self.children.get(s["id"], []):
                for k, v in self.totals(c).items():
                    t[k] = t.get(k, 0) + v
            self._tot[s["id"]] = t
        return self._tot[s["id"]]

    def ops(self, kinds) -> list:
        return [s for s in self.spans
                if s.get("op") and s["measured"] and s["name"] in kinds]

    def op_median(self, kinds, field):
        return median(self.totals(s).get(field, 0) for s in self.ops(kinds))

    def span_median(self, name, field):
        return median(self.totals(s).get(field, 0) for s in self.spans
                      if s["measured"] and s["name"] == name)

    def role_s(self, kinds, role) -> float:
        """Sum over op kinds of the median time the op spends in layer
        calls of ``role``."""
        total = 0.0
        for k in kinds:
            per_op = []
            for s in self.ops((k,)):
                stack, t = list(self.children.get(s["id"], [])), 0.0
                while stack:
                    c = stack.pop()
                    if c.get("role") == role:
                        t += c["end"] - c["start"]
                    else:
                        stack.extend(self.children.get(c["id"], []))
                per_op.append(t)
            total += median(per_op)
        return total


def engine_metrics(view: View) -> dict:
    ops = [s for s in view.spans if s.get("op") and s["measured"]]
    n = len(ops)
    out = {f"spark.{k}": sum(view.totals(s).get(k, 0) for s in ops) / n for k in ENGINE}
    out["driver.py_cpu_s"] = sum(s["py_cpu_s"] for s in ops) / n
    out["driver.jvm_cpu_s"] = sum(s["jvm_cpu_s"] for s in ops) / n
    out["driver.py4j_calls"] = sum(s["py4j_calls"] for s in ops) / n
    return out


def stop_spark(spark) -> None:
    """Stop the session, then end its JVM by closing the gateway's stdin
    (the JVM exits on EOF there) and wait until the JVM and every
    Python worker it forked have exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    pids = tracing.process_tree(jvm.pid) if jvm is not None else {}
    spark.stop()
    if jvm is None:
        return
    jvm.stdin.close()
    jvm.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(tracing.alive(p) for p in pids):
        if time.monotonic() > deadline:
            raise RuntimeError(f"Spark processes {sorted(pids)} outlived the run")
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        cores = prepare_env(work)
        import numpy as np
        import workloads
        from aggregation_duckdb_spark import fsio
        from aggregation_duckdb_spark.session import get_spark
        import oracle

        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; "
                             f"choose from {sorted(workloads.WORKLOADS)}")
        rec = tracing.Recorder(traced=bool(args.trace))
        confs = {"spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false"}
        if args.trace:
            log_dir = os.path.join(work, "eventlog")
            os.makedirs(log_dir)
            confs.update({"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": "file://" + log_dir,
                          "spark.eventLog.compress": "false",
                          "spark.eventLog.rolling.enabled": "false"})
        phases = {"imports": tracing.process_age_s()}
        wl = workloads.WORKLOADS[args.workload](
            work, np.random.default_rng(args.seed), rec)
        # inputs are generated while the session starts
        with ThreadPoolExecutor(1) as pool:
            generated = pool.submit(wl.generate)
            spark = get_spark(app_name=f"perfbench-{args.workload}", extra_confs=confs)
            generated.result()
        phases["session_and_inputs"] = tracing.process_age_s()
        rec.install(spark, fsio)
        wl.spark = spark
        wl.build()                           # builds, and runs every op type once
        setup_s = phases["build_and_warm_up"] = tracing.process_age_s()

        steal0 = tracing.host_cpu_ticks()
        rec.measuring = True
        t0 = time.perf_counter()
        while True:
            wl.round()
            if time.perf_counter() - t0 >= args.seconds:
                break
        measured_s = time.perf_counter() - t0
        rec.measuring = False
        steal1 = tracing.host_cpu_ticks()
        peak_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

        con = oracle.connect(os.path.join(work, "duckdb"))
        errors = wl.check(con)
        con.close()

        kinds = {k: median(v) for k, v in rec.samples.items()}
        read_s = sum(kinds[k] for k in wl.READS)
        write_s = sum(kinds[k] for k in wl.WRITES)
        attempted = sum(len(v) for v in rec.samples.values())
        detail = {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "traced": bool(args.trace), "rounds": wl.rounds,
            "measured_s": measured_s, "read_s": read_s, "write_s": write_s,
            "setup_s": setup_s, "setup_done_at_s": phases,
            "median_s": kinds, "samples_s": rec.samples, "cpu_s": rec.cpu,
            "host_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "errors": errors,
        }
        if args.trace:
            stop_spark(spark)                # flushes and closes the event log
            spark = None
            by_span = tracing.reduce_event_log(log_dir)
            for span in rec.spans:
                span["spark"] = by_span.get(span["id"], {})
            view = View(rec.spans, by_span)
            metrics = engine_metrics(view)
            metrics["api.plan_s"] = view.role_s(wl.READS + wl.WRITES, "plan")
            metrics["api.exec_s"] = view.role_s(wl.READS + wl.WRITES, "exec")
            metrics["api.verb_s"] = view.role_s(wl.READS + wl.WRITES, "verb")
            metrics.update(wl.layer_metrics(view))
            for name in PER_LAYER_UNITS:         # layers this workload bypasses
                metrics.setdefault(name, 0)
            out_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(out_dir, exist_ok=True)
            rec.write_spans(os.path.join(out_dir, f"{args.workload}-{args.seed}.json"))
            units = PER_LAYER_UNITS
        else:
            metrics = {"setup_s": setup_s, "driver_peak_rss_mb": peak_rss_mb,
                       "read_s": read_s, "write_s": write_s}
            units = END_TO_END_UNITS
        print(json.dumps(detail, sort_keys=True))
        result = {"correct": not errors, "attempted": attempted, "failed": 0,
                  "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                              for k in units}}
        print(json.dumps(result), flush=True)
        return 0
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


END_TO_END_UNITS = {"setup_s": "s", "driver_peak_rss_mb": "MB", "read_s": "s",
                    "write_s": "s"}

PER_LAYER_UNITS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.gc_s": "s", "spark.shuffle_write_bytes": "B",
    "spark.input_bytes": "B", "spark.spill_bytes": "B",
    "driver.py_cpu_s": "s", "driver.jvm_cpu_s": "s", "driver.py4j_calls": "count",
    "api.plan_s": "s", "api.exec_s": "s", "api.verb_s": "s",
    "hierarchy.refresh_jobs": "count", "hierarchy.closure_rows": "count",
    "aggregate.jobs": "count", "aggregate.shuffle_write_bytes": "B",
    "aggregate.spill_bytes": "B", "io.scan_bytes": "B",
    "layout.append_jobs": "count", "layout.compact_jobs": "count",
    "layout.upsert_jobs": "count", "layout.commit_input_bytes": "B",
    "layout.commit_written_bytes": "B", "layout.rewrite_amplification": "ratio",
    "fsio.calls_per_commit": "count", "layout.box_buckets_read_ratio": "ratio",
    "layout.stored_bytes_per_user_byte": "ratio",
    "dedup.check_jobs": "count", "dedup.check_shuffle_bytes": "B",
    "dedup.append_input_bytes": "B", "dedup.maintain_jobs": "count",
    "similarity.query_jobs": "count", "similarity.py4j_calls": "count",
    "text.query_jobs": "count", "text.posting_bytes_read": "B",
}


if __name__ == "__main__":
    sys.exit(main())
