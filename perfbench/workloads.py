"""The benchmark's workloads. Each is a closed loop driven from one
process through the engine's public entry points only.

A workload object runs inside a ``run.Harness`` and provides:

- ``generate(seed, scale)`` writes its inputs, returns their description;
- ``prepare()`` / ``teardown()`` build and drop what sits on the session;
- ``warmup()`` sends one request of each type, returns a comparable
  digest of the outputs (identical across set-ups) and whether every
  output check passed;
- ``measure(seconds)`` runs the measured window and returns
  ``(requests, window_s)``; each request dict has ``latency``, ``ok``
  (the request succeeded and its output check passed; every other
  request counts in ``failed``), ``wrong`` (it produced a wrong output,
  which makes the run incorrect) and ``timed`` (counts toward latency);
- ``instrument(rec)``, ``serial_windows``, ``after_traced`` and
  ``layers`` serve the traced run.
"""

from __future__ import annotations

import http.client
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import nullcontext

import pyarrow.parquet as pq

import inputs
from spans import covered

HERE = os.path.dirname(os.path.abspath(__file__))

LAYER_METRICS = (
    ("plans.plan_ms", "ms"), ("plans.requests", "count"),
    ("sources.fetch_ms", "ms"), ("sources.fetch_failed", "count"),
    ("integration.ms", "ms"), ("integration.spark_jobs", "count"),
    ("integration.groups", "count"),
    ("cleaning.ms", "ms"), ("compiler.ms", "ms"),
    ("sinks.write_ms", "ms"), ("sinks.spark_jobs", "count"),
    ("sinks.bytes_out_per_in", "ratio"),
    ("queries.build_ms", "ms"), ("queries.action_ms", "ms"),
    ("dedup.candidates", "count"), ("dedup.pairs", "count"),
    ("spark.jobs", "count"), ("spark.tasks", "count"),
    ("spark.executor_run_ms", "ms"), ("spark.executor_cpu_ms", "ms"),
    ("spark.gc_ms", "ms"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.result_bytes", "bytes"), ("spark.tasks_failed", "count"),
    ("spark.busy_ratio", "ratio"), ("spark.driver_gap_ms", "ms"),
    ("serve.queue_ms", "ms"), ("serve.stream_ms", "ms"),
    ("serve.stage_ms", "ms"),
    ("cache.persisted_after", "count"), ("cache.extra_tasks_ratio", "ratio"),
)


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


class Workload:
    """Shared traced-run plumbing."""

    CLIENTS = 1

    def __init__(self, h):
        self.h = h
        self.rec = None

    def span(self, name: str, rid: str | None = None):
        return self.rec.span(name, rid) if self.rec else nullcontext()

    def instrument(self, rec) -> None:
        """Spans around the engine's public calls, named after the
        module that owns them."""
        from dynamic_etl_pipeline_thesis_ii_spark.plans import orchestrator as O
        from dynamic_etl_pipeline_thesis_ii_spark.sources import sinks

        self.rec = rec

        def count_failed(s, args, out):
            s["failed"] = len(out.failed_requests)

        def count_groups(s, args, out):
            s["groups"] = len(out[0])

        def sink_bytes(pos):
            def on(s, args, out):
                s["bytes_out"] = dir_bytes(args[pos])
            return on

        rec.wrap(O.Pipeline, "plan", "plans.plan")
        rec.wrap(O, "parse_dataops_query", "plans.parse")
        rec.wrap(O.Pipeline, "execute", "sources.execute", count_failed)
        rec.wrap(O.FixtureFetcher, "fetch", "sources.fetch")
        rec.wrap(O, "integrate", "integration.integrate", count_groups)
        rec.wrap(O, "clean_dataframe", "cleaning.clean")
        rec.wrap(O, "apply_features", "compiler.apply")
        rec.wrap(sinks, "save_outputs", "sinks.write", sink_bytes(1))
        rec.wrap(sinks, "write_shards", "sinks.write", sink_bytes(1))
        rec.wrap(sinks, "write_run_artifacts", "sinks.write", sink_bytes(0))

    def teardown(self) -> None:
        pass

    def after_traced(self) -> dict:
        return {}

    def layers(self, spans, jobs, reqs, cores) -> dict:
        """Per-layer metrics of the traced pass's timed requests; per
        request unless the name says per call. Layers that did not run
        report 0."""
        timed = [r for r in reqs if r["timed"]]
        lo = min(r["start"] for r in timed)
        hi = max(r["end"] for r in timed)
        n = len(timed)
        spans = [s for s in spans if lo <= s["start"] <= hi]
        jobs = [j for j in jobs if lo <= j["start"] <= hi]
        name_of = {s["id"]: s["name"] for s in spans}

        def calls(*names):
            return [s for s in spans if s["name"] in names]

        def total_ms(*names):
            return sum(s["end"] - s["start"] for s in calls(*names)) * 1000

        def jobs_of(name):
            return [j for j in jobs if name_of.get(j["span_id"]) == name]

        def per_call(name, total):
            return total / max(1, len(calls(name)))

        out = {k: 0.0 for k, _ in LAYER_METRICS}
        out.update({
            "plans.plan_ms": total_ms("plans.plan", "plans.parse") / n,
            "plans.requests": len(calls("plans.plan")),
            "sources.fetch_ms": total_ms("sources.execute") / n,
            "sources.fetch_failed": sum(s.get("failed", 0)
                                        for s in calls("sources.execute")),
            "integration.ms": total_ms("integration.integrate") / n,
            "integration.spark_jobs": per_call(
                "integration.integrate", len(jobs_of("integration.integrate"))),
            "integration.groups": per_call(
                "integration.integrate",
                sum(s.get("groups", 0) for s in calls("integration.integrate"))),
            "cleaning.ms": total_ms("cleaning.clean") / n,
            "compiler.ms": total_ms("compiler.apply") / n,
            "sinks.write_ms": total_ms("sinks.write") / n,
            "sinks.spark_jobs": len(jobs_of("sinks.write")) / n,
            "sinks.bytes_out_per_in": sum(s.get("bytes_out", 0)
                                          for s in calls("sinks.write"))
            / max(1, self.input_bytes * len(calls("sinks.write"))),
            "queries.build_ms": per_call("queries.build",
                                         total_ms("queries.build")),
            "queries.action_ms": per_call("queries.action",
                                          total_ms("queries.action")),
        })
        for k in ("tasks", "executor_run_ms", "gc_ms", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "result_bytes",
                  "tasks_failed"):
            out[f"spark.{k}"] = sum(j[k] for j in jobs) / n
        out["spark.jobs"] = len(jobs) / n
        out["spark.executor_cpu_ms"] = sum(
            j["executor_cpu_ns"] for j in jobs) / 1e6 / n
        out["spark.busy_ratio"] = sum(j["executor_run_ms"] for j in jobs) / (
            (hi - lo) * 1000 * cores)
        out["spark.driver_gap_ms"] = statistics.mean(
            r["latency"] - covered([(j["start"], j["end"]) for j in jobs
                                    if j["rid"] == r["rid"]],
                                   r["start"], r["end"])
            for r in timed) * 1000
        out["cache.persisted_after"] = statistics.mean(
            r["persisted_after"] for r in timed)
        units = dict(LAYER_METRICS)
        return {k: (float(v), units[k]) for k, v in out.items()}


# ---------------------------------------------------------------------------
# serve_mixed
# ---------------------------------------------------------------------------

SSE_TIMEOUT = 170


def stream_run(port: int, query: str, options: dict) -> dict:
    """POST /api/pipeline/stream, read the SSE frames to ``__done__``,
    then GET the run's results."""
    start = time.time()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=SSE_TIMEOUT)
    conn.request("POST", "/api/pipeline/stream",
                 body=json.dumps({"query": query, "options": options}),
                 headers={"Content-Type": "application/json"})
    resp = conn.getresponse()
    events = []
    while resp.headers.get_content_type() == "text/event-stream":
        line = resp.fp.readline()
        if not line:
            break
        if line.startswith(b"data: "):
            events.append(json.loads(line[6:]))
            if events[-1]["stage"] == "__done__":
                break
    conn.close()
    results = {}                # a refused request fails its output check
    if events:
        conn = http.client.HTTPConnection("127.0.0.1", port,
                                          timeout=SSE_TIMEOUT)
        conn.request("GET", f"/api/pipeline/results/{events[0]['info']['run_id']}")
        results = json.loads(conn.getresponse().read())
        conn.close()
    end = time.time()
    return {"start": start, "end": end, "latency": end - start,
            "events": events, "results": results,
            "engine_failed": bool(events) and events[-1]["stage"] == "__done__"
            and events[-1]["info"].get("status") == "failed"}


_VOLATILE = {"run_id", "time_ms", "elapsed_sec"}


def normalize(obj, out_dir: str):
    """A run's results without run ids, timings and its own output dir."""
    if isinstance(obj, dict):
        return {k: normalize(v, out_dir) for k, v in obj.items()
                if k not in _VOLATILE}
    if isinstance(obj, list):
        return [normalize(v, out_dir) for v in obj]
    if isinstance(obj, str) and out_dir:
        return obj.replace(out_dir, "<out>")
    return obj


def check_results(req: dict, results: dict) -> bool:
    """The output check of one serve request."""
    status = results.get("status")
    reports = results.get("reports") or {}
    if req["kind"] == "finance":
        plan = reports.get("plan") or {}
        return (status == "complete" and results.get("n_outputs", 0) > 0
                and sorted(plan.get("tickers", [])) == req["tickers"]
                and set(req["features"]) <= set(plan.get("enrichment", [])))
    if req["kind"] == "dataops":
        return status == "complete" and results.get("n_outputs", 0) > 0
    if req["kind"] == "explain":
        return (status == "explained"
                and (reports.get("plan") or {}).get("target")
                == "corpus_to_shards")
    return status == "rejected"


class ServeMixed(Workload):
    """3 clients loop on POST /api/pipeline/stream against an in-process
    server, each reading the SSE stream to ``__done__`` and then the
    run's results. A serial pass over the distinct requests first gives
    each one's reference report."""

    CLIENTS = 3
    SIZES = {"full": (100_000, 5000), "smoke": (1000, 300)}
    WARMUP = (
        {"kind": "finance", "query": "Get AAPL, MSFT daily stock prices "
         "with rsi", "tickers": ["AAPL", "MSFT"], "features": ["rsi"]},
        {"kind": "dataops", "query": "census the corpus"},
        {"kind": "dataops", "query": "license audit the corpus"},
        {"kind": "explain", "query": f"explain: {inputs.CORPUS_QUERY}"},
        {"kind": "rejected", "query": inputs.NON_FINANCE[0]},
    )

    def __init__(self, h):
        super().__init__(h)
        self.server = None
        self.thread = None
        self.n_sent = itertools.count()

    def generate(self, seed, scale):
        n_events, n_docs = self.SIZES[scale]
        self.sf = os.path.join(self.h.tmp, "sf")
        inputs.write_sf_dirs_apart(
            (self.sf, seed, {"n_events": n_events, "n_docs": n_docs}))
        self.out_root = os.path.join(self.h.tmp, "serve_out")
        self.distinct = inputs.serve_mix(seed)
        self.cycle = inputs.SERVE_CYCLE
        files = [os.path.join(self.sf, f) for f in sorted(os.listdir(self.sf))]
        self.input_bytes = sum(map(os.path.getsize, files))
        return {"events": n_events, "docs": n_docs, "clients": self.CLIENTS,
                "distinct_requests": [d["query"] for d in self.distinct],
                "digest": inputs.digest([self.distinct, self.cycle], *files)}

    def prepare(self):
        from dynamic_etl_pipeline_thesis_ii_spark import serve
        from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
            FixtureFetcher,
            Pipeline,
        )

        spark, sf = self.h.spark, self.sf
        runner = serve.pipeline_runner(lambda progress: Pipeline(
            spark, FixtureFetcher(spark, sf), progress=progress))
        if self.rec is not None:
            base = runner

            def runner(query, options, progress):
                with self.rec.span("serve.run", options.get("trace_rid")):
                    return base(query, options, progress)

        self.server = serve.make_server(serve.PipelineService(runner))
        self.thread = threading.Thread(target=self.server.serve_forever,
                                       daemon=True)
        self.thread.start()

    def teardown(self):
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.thread.join()
            self.server = None

    def call(self, req: dict, rid: str, ref=None) -> dict:
        """One request and its output check. With ``ref``, the report
        the serial pass got for the same request, the report must also
        equal it. A run the engine fails is not ``ok`` but not ``wrong``
        either, unless the serial pass got another outcome. A request
        that raises in the client (a timeout, a closed connection, a
        body that is not JSON) is recorded the same way, with its
        latency up to the exception."""
        out_dir = os.path.join(self.out_root, f"{rid}-{next(self.n_sent)}")
        options = {}
        if req["kind"] in ("dataops", "explain"):
            options = {"source_dir": self.sf, "output_path": out_dir}
        if self.rec is not None:
            options["trace_rid"] = rid
        start = time.time()
        try:
            with self.span("request", rid):
                r = stream_run(self.server.server_address[1], req["query"],
                               options)
            checked = check_results(req, r["results"])
            r["report"] = normalize(r["results"], out_dir)
        except Exception as exc:
            end = time.time()
            r = {"start": start, "end": end, "latency": end - start,
                 "events": [], "results": {}, "report": None,
                 "engine_failed": False,
                 "error": f"{type(exc).__name__}: {exc}"}
            checked = False
        r["rid"] = rid
        r["over_cap"] = req.get("over_cap", False)
        diverged = ref is not None and r["report"] != ref
        r["ok"] = checked and not diverged
        r["wrong"] = diverged or not (checked or r["engine_failed"]
                                      or "error" in r)
        if self.rec is not None:
            r["persisted_after"] = persistent_rdds(self.h.spark)
        return r

    def warmup(self):
        rs = [self.call(req, f"w{i}") for i, req in enumerate(self.WARMUP)]
        return (json.dumps([r["report"] for r in rs]),
                all(r["ok"] for r in rs))

    def measure(self, seconds):
        serial = []
        for i, req in enumerate(self.distinct):
            r = self.call(req, f"s{i}")
            r.update(timed=False, idx=i)
            serial.append(r)
        refs = [r["report"] for r in serial]

        # Clients draw from one cursor over the cycle until the
        # time is up, then finish the cycle in progress: every run
        # measures whole cycles, so every seed measures the same mix.
        done, lock = [], threading.Lock()
        cursor = {"next": 0, "stop": None}
        period = len(self.cycle)
        t0 = time.time()

        def draw():
            with lock:
                n = cursor["next"]
                if cursor["stop"] is None and time.time() - t0 >= seconds:
                    cursor["stop"] = max(period, -(-n // period) * period)
                if cursor["stop"] is not None and n >= cursor["stop"]:
                    return None
                cursor["next"] = n + 1
                return n

        def client():
            while (n := draw()) is not None:
                i = self.cycle[n % period]
                r = self.call(self.distinct[i], f"c{n}", refs[i])
                r.update(timed=True, idx=i)
                with lock:
                    done.append(r)

        threads = [threading.Thread(target=client) for _ in range(self.CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        window = max(r["end"] for r in done) - t0
        return serial + sorted(done, key=lambda r: r["start"]), window

    def summary(self, reqs, window):
        timed = [r for r in reqs if r["timed"]]
        kinds, failed = {}, {}
        for r in reqs:
            k = self.distinct[r["idx"]]["kind"]
            if r["over_cap"]:
                k += " over cap"
            if r["timed"]:
                kinds[k] = kinds.get(k, 0) + 1
            if not r["ok"]:
                failed[k] = failed.get(k, 0) + 1
        return {"window_s": round(window, 3), "cycles": len(timed) // len(
                    self.cycle), "requests_by_kind": kinds,
                "failed_by_kind": failed,
                "serial_pass_s": round(sum(r["latency"] for r in reqs
                                           if not r["timed"]), 3)}

    def serial_windows(self, reqs, t0, t1):
        serial = [r for r in reqs if not r["timed"]]
        return [(serial[0]["start"], serial[-1]["end"])] if serial else []

    def layers(self, spans, jobs, reqs, cores):
        out = super().layers(spans, jobs, reqs, cores)
        timed = [r for r in reqs if r["timed"]]
        streamed = [r for r in timed if len(r["events"]) > 1]

        def ev_ts(r, stage):
            return next(e["ts"] for e in r["events"] if e["stage"] == stage)

        def mean_ms(f):
            return statistics.mean(f(r) for r in streamed) * 1000

        first = lambda r: r["events"][1]["ts"]          # noqa: E731
        out["serve.queue_ms"] = (mean_ms(
            lambda r: first(r) - ev_ts(r, "__created__")), "ms")
        out["serve.stream_ms"] = (mean_ms(
            lambda r: r["end"] - ev_ts(r, "__done__")), "ms")
        out["serve.stage_ms"] = (mean_ms(
            lambda r: ev_ts(r, "__done__") - first(r)), "ms")
        # Spark tasks run in the concurrent window vs the tasks the same
        # requests ran one at a time in the serial pass
        serial_tasks: dict[int, int] = {}
        rid_idx = {r["rid"]: r["idx"] for r in reqs if not r["timed"]}
        for j in jobs:
            if j["rid"] in rid_idx:
                i = rid_idx[j["rid"]]
                serial_tasks[i] = serial_tasks.get(i, 0) + j["tasks"]
        lo = min(r["start"] for r in timed)
        hi = max(r["end"] for r in timed)
        concurrent = sum(j["tasks"] for j in jobs if lo <= j["start"] <= hi)
        expected = sum(serial_tasks.get(r["idx"], 0) for r in timed)
        out["cache.extra_tasks_ratio"] = (concurrent / max(1, expected),
                                          "ratio")
        return out


# ---------------------------------------------------------------------------
# corpus_scale
# ---------------------------------------------------------------------------

class CorpusScale(Workload):
    """One client runs batch passes over a seeded, word-salted replica
    corpus; each pass is three requests: the NL curate -> shards
    target (shards written and read back), and the dedup_neardup_pairs
    and text_corpus_stats registry queries, each built and counted.

    The warm-up pass runs on a small corpus that is the same for every
    seed. Its row counts must equal ``reference.json``, which DuckDB
    computes from the engine's oracle SQL (``reference.py``)."""

    SIZES = {"full": (1250, 2, 2000), "smoke": (300, 1, 200)}
    JOBS = ("curate", "dedup_neardup_pairs", "text_corpus_stats")

    def generate(self, seed, scale):
        n_docs, factor, n_vecs = self.SIZES[scale]
        self.n_docs = n_docs * factor
        with open(os.path.join(HERE, "reference.json")) as fh:
            self.ref = json.load(fh)
        self.sf = os.path.join(self.h.tmp, "sf")
        self.warm = os.path.join(self.h.tmp, "warm")
        inputs.write_sf_dirs_apart(
            (self.sf, seed, {"n_docs": n_docs, "n_vecs": n_vecs,
                             "factor": factor}),
            (self.warm, self.ref["seed"], {"n_docs": self.ref["docs"],
                                           "n_vecs": self.ref["vectors"]}))
        files = [os.path.join(self.sf, f) for f in sorted(os.listdir(self.sf))]
        self.input_bytes = os.path.getsize(os.path.join(self.sf,
                                                        "documents.parquet"))
        self.n_pass = itertools.count()
        self.counts = {}
        return {"docs": self.n_docs, "base_docs": n_docs, "factor": factor,
                "vectors": n_vecs, "digest": inputs.digest(
                    [inputs.CORPUS_QUERY, self.JOBS], *files)}

    def prepare(self):
        from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
            FixtureFetcher,
            Pipeline,
        )
        from dynamic_etl_pipeline_thesis_ii_spark.queries import all_queries

        spark = self.h.spark
        self.pipe = Pipeline(spark, FixtureFetcher(spark, self.sf))
        self.queries = all_queries()

    def one_pass(self, sf_dir: str, n_docs: int) -> list[dict]:
        from dynamic_etl_pipeline_thesis_ii_spark.queries.dataops_suite import (
            release_shared_caches,
        )

        p = next(self.n_pass)
        spark = self.h.spark
        reqs = []
        for job in self.JOBS:
            rid = f"p{p}-{job}"
            start = time.time()
            with self.span("request", rid):
                if job == "curate":
                    out = os.path.join(self.h.tmp, "shards", rid)
                    res = self.pipe.run_dataops(inputs.CORPUS_QUERY, sf_dir,
                                                out)
                    ok, n = shards_verify(res, out)
                else:
                    with self.span("queries.build"):
                        df = self.queries[job](spark, sf_dir)
                    with self.span("queries.action"):
                        n = df.count()
                    ok = n > 0 and (job != "text_corpus_stats" or n == n_docs)
            end = time.time()
            release_shared_caches()
            r = {"rid": rid, "job": job, "rows": n, "start": start,
                 "end": end, "latency": end - start, "ok": ok}
            if self.rec is not None:
                r["persisted_after"] = persistent_rdds(spark)
            reqs.append(r)
        return reqs

    def warmup(self):
        reqs = self.one_pass(self.warm, self.ref["docs"])
        return (json.dumps([(r["job"], r["rows"]) for r in reqs]),
                all(r["ok"] and r["rows"] == self.ref["rows"][r["job"]]
                    for r in reqs))

    def measure(self, seconds):
        t0 = time.time()
        reqs = []
        while not reqs or time.time() - t0 < seconds:
            reqs += self.one_pass(self.sf, self.n_docs)
        for r in reqs:
            r["timed"] = True
            # row counts repeat exactly across the passes of one seed:
            # a window of several passes, or the traced run's two windows
            first = self.counts.setdefault(r["job"], r["rows"])
            r["ok"] = r["ok"] and r["rows"] == first
            r["wrong"] = not r["ok"]
        return reqs, reqs[-1]["end"] - t0

    def summary(self, reqs, window):
        n_pass = len(reqs) // len(self.JOBS)
        by_job = {}
        for r in reqs:
            by_job.setdefault(r["job"], []).append(round(r["latency"], 3))
        return {"window_s": round(window, 3), "passes": n_pass,
                "docs": self.n_docs,
                "docs_per_s": round(self.n_docs * n_pass / window, 3),
                "rows": {r["job"]: r["rows"] for r in reqs},
                "latency_by_job_s": by_job}

    def serial_windows(self, reqs, t0, t1):
        return [(t0, t1)]

    def after_traced(self):
        """Candidate pairs of the n-gram Jaccard blocking with the
        threshold off, counted the way ``bench.scale_probe`` does."""
        from dynamic_etl_pipeline_thesis_ii_spark.operators import dedup as D
        from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import (
            Catalog,
        )

        docs = Catalog(self.h.spark, self.sf).documents.select("doc_id", "text")
        return {"dedup.candidates": (
            float(D.jaccard_pairs(docs, threshold=0.0).count()), "count")}

    def layers(self, spans, jobs, reqs, cores):
        out = super().layers(spans, jobs, reqs, cores)
        out["dedup.pairs"] = (float(self.counts["dedup_neardup_pairs"]),
                              "count")
        return out


def shards_verify(res: dict, out: str) -> tuple[bool, int]:
    """The curate target completed and its shards, read back here with
    pyarrow, hold every row the sink reported writing."""
    sink = (res.get("reports") or {}).get("sink") or {}
    rows = sink.get("rows_written", 0)
    shard_rows = sum((sink.get("shard_rows") or {}).values())
    on_disk = pq.ParquetDataset(out).read(columns=[]).num_rows \
        if os.path.isdir(out) else -1
    ok = (res.get("status") == "complete" and rows > 0
          and shard_rows == rows == on_disk)
    return ok, rows


WORKLOADS = {"serve_mixed": ServeMixed, "corpus_scale": CorpusScale}
