"""Benchmark of the NL-to-sink lifecycle.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The benchmark drives the engine only
through its public entry points, makes every input from ``--seed``
under a temporary directory inside the checkout (removed at exit),
checks the engine's outputs, and prints one JSON object as the last
line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` reports the per-layer metrics from a traced run (spans
around the engine's public calls, folded with Spark's event log) plus
the tracing overhead against an untraced pass of the same requests.
Human-readable detail goes to stderr; the full record of the run
(telemetry, input digest, tail percentile, per-span table) is written
to ``perfbench/out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 2                      # set-ups per run; setup_s is their median


def process_start_epoch() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        return next(int(ln.split()[1]) for ln in fh
                    if ln.startswith("VmHWM:")) / 1024


def tail(latencies: list[float]) -> tuple[float, str]:
    """Highest percentile with at least ten samples beyond it; the
    maximum when there are too few samples for any percentile."""
    xs = sorted(latencies)
    for pct in (99, 95, 90, 75):
        if len(xs) * (100 - pct) / 100 >= 10:
            return statistics.quantiles(xs, n=100)[pct - 1], f"p{pct}"
    return xs[-1], "max"


class Harness:
    """Owns the temp dir and the SparkSession."""

    def __init__(self, tmp: str):
        self.tmp = tmp
        self.spark = None
        self.event_log = None

    def start(self, event_log: bool = False):
        from dynamic_etl_pipeline_thesis_ii_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.tmp, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            self.event_log = os.path.join(self.tmp, f"eventlog{time.time_ns()}")
            os.makedirs(self.event_log)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": self.event_log,
                         "spark.eventLog.compress": "false"})
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        from dynamic_etl_pipeline_thesis_ii_spark.queries.dataops_suite import (
            release_shared_caches,
        )
        if self.spark is not None:
            release_shared_caches()
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the JVM that runs Spark and wait for it (its Python
        workers exit with it)."""
        from pyspark import SparkContext
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    def memory(self) -> dict:
        """Python driver peak RSS; the JVM's peak RSS and the heap it
        still uses after a full GC (cached blocks, driver state). The
        JVM figures swing by a third between runs (heap growth follows
        GC timing), so they are per-layer figures, not end-to-end ones."""
        from pyspark import SparkContext
        jvm = self.spark.sparkContext._jvm
        jvm.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
            .getHeapMemoryUsage().getUsed() / 2**20
        return {"python_peak_rss_mb": vm_hwm_mb(os.getpid()),
                "jvm_live_heap_mb": heap,
                "jvm_peak_rss_mb": vm_hwm_mb(SparkContext._gateway.proc.pid)}



def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full",
                    help="smoke: tiny inputs, for the smoke tests")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    proc_t0 = process_start_epoch()
    load_start = os.getloadavg()
    # Spark's Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    try:
        import dynamic_etl_pipeline_thesis_ii_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from "
              f"{ROOT}: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS  # noqa: E402 (needs sys.path above)

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM (spark-submit's launcher too): temp files under tmp, and
    # no hsperfdata files, which HotSpot always puts in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}")))
    cwd = os.getcwd()
    os.chdir(tmp)               # spark-warehouse / derby.log land here
    h = Harness(tmp)
    wl = WORKLOADS[args.workload](h)
    try:
        record = run(h, wl, args, proc_t0)
    finally:
        try:
            wl.teardown()
            h.stop()
            h.close()
        finally:
            os.chdir(cwd)
            shutil.rmtree(tmp, ignore_errors=True)
    import pyspark
    record["telemetry"] = {"nproc": os.cpu_count(),
                           "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
                           "loadavg_start": list(load_start),
                           "spark": pyspark.__version__,
                           "python": platform.python_version()}
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for k, v in record["summary"].items():
        print(f"# {args.workload} {k}: {v}", file=sys.stderr)
    print(json.dumps(record["result"]))
    return 0


def run(h: Harness, wl, args, proc_t0: float) -> dict:
    t = time.time()
    inputs_info = wl.generate(args.seed, args.scale)
    gen_s = time.time() - t

    # set-up: session (+ server) ready and one warm-up request of each
    # type. The first set-up runs from process start (imports and the
    # JVM launch included, input generation excluded); the others stop
    # the SparkContext and build it again in the same JVM.
    setups = []
    h.start()
    wl.prepare()
    warm_checks = [wl.warmup()]
    setups.append(time.time() - proc_t0 - gen_s)
    for _ in range(0 if args.trace else SETUPS - 1):
        t = time.time()
        wl.teardown()
        h.stop()
        h.start()
        wl.prepare()
        warm_checks.append(wl.warmup())
        setups.append(time.time() - t)
    if args.trace:
        reqs, metrics, summary, extra = traced(h, wl, args, warm_checks)
    else:
        reqs, window = wl.measure(args.seconds)
        mem = h.memory()
        lat = [r["latency"] for r in reqs if r["timed"]]
        tail_v, tail_pct = tail(lat)
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "latency_p50_s": (statistics.median(lat), "s"),
            "latency_tail_s": (tail_v, "s"),
            # closed loop, no think time: Little's law, clients / mean latency
            "throughput_rps": (wl.CLIENTS * len(lat) / sum(lat), "1/s"),
            "driver_rss_mb": (mem["python_peak_rss_mb"], "MB"),
        }
        summary = {"setups_s": [round(s, 3) for s in setups],
                   **{k: round(v, 1) for k, v in mem.items()},
                   "latency_tail": f"{tail_pct} of {len(lat)} requests",
                   **wl.summary(reqs, window)}
        extra = {}

    # every warm-up passed its checks and got the same outputs
    warm_ok = all(c == warm_checks[0] for c in warm_checks) \
        and all(ok for _, ok in warm_checks)
    failed = sum(1 for r in reqs if not r["ok"])
    wrong = sum(1 for r in reqs if r["wrong"])
    summary.update({"failed_ratio": f"{failed}/{len(reqs)}",
                    "wrong_outputs": wrong,
                    "warmup_ok": warm_ok,
                    "seed": args.seed, "inputs": inputs_info,
                    "input_gen_s": round(gen_s, 3)})
    result = {"correct": wrong == 0 and warm_ok,
              "attempted": len(reqs), "failed": failed,
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in metrics.items()}}
    return {"result": result, "summary": summary, "requests": reqs, **extra}


def traced(h: Harness, wl, args, warm_checks: list):
    """The requests traced (event log on, spans around the engine's
    public calls), then untraced on a fresh session. Per-layer metrics
    come from the traced pass. The untraced pass runs later in the same
    JVM, so it is the warmer one and the overhead is an upper bound."""
    from spans import Recorder, attribute, read_event_log

    wl.teardown()
    h.stop()
    h.start(event_log=True)
    rec = Recorder(h.spark.sparkContext)
    wl.instrument(rec)          # before prepare: the server binds the runner
    wl.prepare()
    warm_checks.append(wl.warmup())
    rec.spans.clear()
    t0 = time.time()
    reqs, _ = wl.measure(args.seconds)
    t1 = time.time()
    mem = h.memory()
    counts = wl.after_traced()
    rec.unwrap()
    wl.rec = None
    cores = h.spark.sparkContext.defaultParallelism
    wl.teardown()
    h.stop()                    # flushes and closes the event log
    h.start()
    wl.prepare()
    warm_checks.append(wl.warmup())
    plain, _ = wl.measure(args.seconds)

    jobs = [j for j in read_event_log(h.event_log) if t0 <= j["start"] <= t1]
    attribute(jobs, rec.spans, wl.serial_windows(reqs, t0, t1))
    metrics = wl.layers(rec.spans, jobs, reqs, cores)
    metrics.update(counts)
    p50 = [statistics.median(r["latency"] for r in rs if r["timed"])
           for rs in (reqs, plain)]
    metrics["memory.jvm_peak_rss_mb"] = (mem["jvm_peak_rss_mb"], "MB")
    metrics["memory.jvm_live_heap_mb"] = (mem["jvm_live_heap_mb"], "MB")
    metrics["trace.overhead_ms"] = ((p50[0] - p50[1]) * 1000, "ms")
    metrics["trace.spans"] = (len(rec.spans), "count")
    summary = {"p50_traced_untraced_s": [round(p, 3) for p in p50],
               "spans": len(rec.spans), "jobs": len(jobs),
               "unattributed_jobs": sum(1 for j in jobs if j["rid"] is None),
               "per_layer": {k: round(v, 3) for k, (v, _) in metrics.items()}}
    extra = {"spans": rec.spans, "jobs": jobs,
             "span_table": span_table(rec.spans, jobs)}
    return reqs + plain, metrics, summary, extra


def span_table(spans: list[dict], jobs: list[dict]) -> dict:
    """Per span name: calls, total and self ms, jobs, tasks, executor ms."""
    from spans import self_times
    st = self_times(spans)
    table: dict[str, dict] = {}
    for s in spans:
        row = table.setdefault(s["name"], {"calls": 0, "ms": 0.0,
                                           "self_ms": 0.0, "jobs": 0,
                                           "tasks": 0, "executor_run_ms": 0})
        row["calls"] += 1
        row["ms"] += (s["end"] - s["start"]) * 1000
        row["self_ms"] += st[s["id"]] * 1000
    names = {s["id"]: s["name"] for s in spans}
    for j in jobs:
        row = table.get(names.get(j["span_id"]))
        if row is not None:
            row["jobs"] += 1
            row["tasks"] += j["tasks"]
            row["executor_run_ms"] += j["executor_run_ms"]
    return table


if __name__ == "__main__":
    raise SystemExit(main())
