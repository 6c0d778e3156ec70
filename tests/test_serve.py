"""REST serving rim contract tests: the stdlib HTTP transport over the
Pipeline engine mirrors the reference's endpoint surface
(backend/app/api/endpoints/pipeline.py POST /pipeline/run + status/
results/history reads, websocket.py progress push -> SSE here).

The service layer is exercised twice: with a FAKE runner (no Spark —
lifecycle, error, and 4xx paths with deterministic timing) and with
the REAL Pipeline over the parquet fixtures (one end-to-end dataops
run through HTTP, progress events included)."""

from __future__ import annotations

import http.client
import json
import threading
import time

from dynamic_etl_pipeline_thesis_ii_spark.serve import (
    PipelineService,
    make_server,
    pipeline_runner,
)


def _start(service):
    server = make_server(service, port=0)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server, server.server_address[1]


def _req(port, method, path, body=None):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    conn.request(method, path,
                 body=json.dumps(body) if body is not None else None,
                 headers={"Content-Type": "application/json"})
    resp = conn.getresponse()
    data = resp.read()
    conn.close()
    return resp.status, json.loads(data) if data else None


def _wait_status(port, run_id, want, timeout=120.0):
    deadline = time.time() + timeout
    while time.time() < deadline:
        code, status = _req(port, "GET", f"/api/pipeline/status/{run_id}")
        assert code == 200
        if status["status"] in want:
            return status
        time.sleep(0.1)
    raise AssertionError(f"run {run_id} never reached {want}")


def test_service_lifecycle_and_error_codes():
    """Fake-runner service: pending->running->completed with staged
    events, results gated on completion (400 before, 200 after, 404
    unknown), failures surface as status=failed with the error."""
    gate = threading.Event()

    def runner(query, options, progress):
        progress("plan", {"proceed": True})
        gate.wait(timeout=30)
        if query == "boom":
            raise RuntimeError("engine exploded")
        progress("publish", {"rows": 3})
        return {"status": "complete", "outputs": [],
                "reports": {"plan": {"q": query}}}

    server, port = _start(PipelineService(runner))
    try:
        code, resp = _req(port, "POST", "/api/pipeline/run",
                          {"query": "do the thing"})
        assert code == 200 and resp["status"] == "pending"
        run_id = resp["run_id"]

        # still running: results must 400 with the reference's message
        _wait_status(port, run_id, {"running"})
        code, detail = _req(port, "GET", f"/api/pipeline/results/{run_id}")
        assert code == 400 and "not completed" in detail["detail"]

        gate.set()
        status = _wait_status(port, run_id, {"completed"})
        assert status["progress"] == 1.0
        assert status["stage_flags"] == {"plan": True, "publish": True}
        code, results = _req(port, "GET",
                             f"/api/pipeline/results/{run_id}")
        assert code == 200 and results["status"] == "complete"
        assert results["reports"]["plan"]["q"] == "do the thing"

        # failure path
        code, resp2 = _req(port, "POST", "/api/pipeline/run",
                           {"query": "boom"})
        failed = _wait_status(port, resp2["run_id"], {"failed"})
        assert "engine exploded" in failed["error"]

        # 404s and 422
        assert _req(port, "GET", "/api/pipeline/status/nope")[0] == 404
        assert _req(port, "GET", "/api/pipeline/results/nope")[0] == 404
        assert _req(port, "GET", "/api/pipeline/events/nope")[0] == 404
        assert _req(port, "POST", "/api/pipeline/run", {})[0] == 422
        # non-object options must be the same clean 422 as a missing
        # query — not a TypeError escaping the handler as a dropped
        # connection / HTML 500
        code, detail = _req(port, "POST", "/api/pipeline/run",
                            {"query": "q", "options": 5})
        assert code == 422 and "options" in detail["detail"]
        assert _req(port, "POST", "/api/pipeline/stream",
                    {"query": "q", "options": [1]})[0] == 422

        # history: newest first, both runs present
        code, hist = _req(port, "GET", "/api/pipeline/history")
        assert code == 200 and [h["run_id"] for h in hist] == \
            [resp2["run_id"], run_id]
    finally:
        server.shutdown()


def test_sse_events_replay_after_completion():
    """A client connecting AFTER the run finished gets the full
    ordered replay ending with the terminal frame, then the stream
    closes — the WebSocket-contract equivalent."""
    def runner(query, options, progress):
        progress("plan", {"proceed": True})
        progress("fetch", {"ok": 2})
        progress("publish", {"rows": 7})
        return {"status": "complete", "outputs": [], "reports": {}}

    server, port = _start(PipelineService(runner))
    try:
        _, resp = _req(port, "POST", "/api/pipeline/run", {"query": "q"})
        run_id = resp["run_id"]
        _wait_status(port, run_id, {"completed"})

        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        conn.request("GET", f"/api/pipeline/events/{run_id}")
        raw = conn.getresponse().read().decode()   # closes at __done__
        conn.close()
        events = [json.loads(line[6:]) for line in raw.splitlines()
                  if line.startswith("data: ")]
        assert [e["stage"] for e in events] == \
            ["plan", "fetch", "publish", "__done__"]
        assert [e["seq"] for e in events] == [0, 1, 2, 3]
        assert events[-1]["info"]["status"] == "completed"
    finally:
        server.shutdown()


def test_sse_live_subscription_receives_events_as_they_happen():
    """A client connected WHILE the run executes receives the staged
    events incrementally and the terminal frame on completion — the
    live half of the WebSocket-contract equivalence (the replay half
    is covered above)."""
    gate = threading.Event()

    def runner(query, options, progress):
        progress("plan", {"proceed": True})
        gate.wait(timeout=30)
        progress("publish", {"rows": 1})
        return {"status": "complete", "outputs": [], "reports": {}}

    server, port = _start(PipelineService(runner))
    try:
        _, resp = _req(port, "POST", "/api/pipeline/run", {"query": "q"})
        run_id = resp["run_id"]
        _wait_status(port, run_id, {"running"})

        got: list = []

        def subscribe():
            conn = http.client.HTTPConnection("127.0.0.1", port,
                                              timeout=60)
            conn.request("GET", f"/api/pipeline/events/{run_id}")
            raw = conn.getresponse().read().decode()
            conn.close()
            got.extend(json.loads(line[6:]) for line in raw.splitlines()
                       if line.startswith("data: "))

        t = threading.Thread(target=subscribe)
        t.start()
        time.sleep(0.3)           # subscriber is blocked mid-stream
        assert t.is_alive()       # ...waiting on events, not done
        gate.set()
        t.join(timeout=60)
        assert not t.is_alive()
        assert [e["stage"] for e in got] == ["plan", "publish", "__done__"]
    finally:
        server.shutdown()


def test_stream_connect_starts_run_and_streams_to_done():
    """POST /api/pipeline/stream: ONE connection both starts the run
    and consumes its ordered progress push — the reference WebSocket's
    connect-starts-run flow (websocket.py:52-60) over SSE. The first
    frame is __created__ with the run_id; create→stage→…→__done__
    frames follow on the same connection, and the run_id remains
    queryable via status/results afterwards."""
    def runner(query, options, progress):
        progress("plan", {"proceed": True})
        progress("fetch", {"ok": 1})
        progress("publish", {"rows": 2})
        return {"status": "complete", "outputs": [],
                "reports": {"q": query}}

    server, port = _start(PipelineService(runner))
    try:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        conn.request("POST", "/api/pipeline/stream",
                     body=json.dumps({"query": "streamed run"}),
                     headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        assert resp.status == 200
        assert resp.getheader("Content-Type") == "text/event-stream"
        raw = resp.read().decode()          # closes after __done__
        conn.close()
        events = [json.loads(line[6:]) for line in raw.splitlines()
                  if line.startswith("data: ")]
        assert [e["stage"] for e in events] == \
            ["__created__", "plan", "fetch", "publish", "__done__"]
        run_id = events[0]["info"]["run_id"]
        assert events[-1]["info"]["status"] == "completed"

        # the streamed run is a first-class run: status + results work
        code, status = _req(port, "GET", f"/api/pipeline/status/{run_id}")
        assert code == 200 and status["status"] == "completed"
        code, results = _req(port, "GET",
                             f"/api/pipeline/results/{run_id}")
        assert code == 200 and results["reports"]["q"] == "streamed run"
    finally:
        server.shutdown()


def test_sse_idle_timeout_resets_on_activity():
    """The event stream's timeout is an IDLE timeout: a run that keeps
    emitting events holds the stream open past any single window; only
    full silence for the window closes it early."""
    def runner(query, options, progress):
        for i in range(4):
            time.sleep(0.3)
            progress(f"s{i}", {})
        return {"status": "complete", "outputs": [], "reports": {}}

    service = PipelineService(runner)
    run_id = service.create_run("slow drip")
    # idle window (0.5 s) < total run time (1.2 s+): with an absolute
    # deadline this stream would close mid-run without __done__
    events = list(service.iter_events(run_id, idle_timeout=0.5))
    assert [e["stage"] for e in events] == \
        ["s0", "s1", "s2", "s3", "__done__"]


def test_http_run_real_dataops_pipeline(spark, sf_dir, tmp_path):
    """End-to-end over HTTP: a chunking dataops query runs the real
    engine, the sink parquet lands, and the SSE stream carries the
    engine's own staged progress events."""
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        FixtureFetcher,
        Pipeline,
    )

    service = PipelineService(pipeline_runner(
        lambda progress: Pipeline(spark, FixtureFetcher(spark, sf_dir),
                                  progress=progress)))
    server, port = _start(service)
    out = str(tmp_path / "chunks")
    try:
        code, resp = _req(port, "POST", "/api/pipeline/run", {
            "query": "chunk the documents for RAG, size 64 stride 48",
            "options": {"source_dir": sf_dir, "output_path": out}})
        assert code == 200
        run_id = resp["run_id"]
        _wait_status(port, run_id, {"completed"})

        code, results = _req(port, "GET",
                             f"/api/pipeline/results/{run_id}")
        assert code == 200 and results["status"] == "complete"
        rows = results["reports"]["rows_written"]
        assert rows > 0
        assert spark.read.parquet(out).count() == rows

        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        conn.request("GET", f"/api/pipeline/events/{run_id}")
        raw = conn.getresponse().read().decode()
        conn.close()
        stages = [json.loads(line[6:])["stage"]
                  for line in raw.splitlines() if line.startswith("data: ")]
        assert stages[0] == "plan" and stages[-1] == "__done__"
        assert "chunk" in stages and "publish" in stages

        # download endpoint: a real file from the run's sink comes
        # back byte-identical; traversal out of the run dir is 403
        import os
        fname = next(f for f in os.listdir(out) if f.endswith(".parquet"))
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        conn.request("GET", f"/api/pipeline/download/{run_id}/{fname}")
        resp2 = conn.getresponse()
        body = resp2.read()
        conn.close()
        assert resp2.status == 200
        with open(os.path.join(out, fname), "rb") as fh:
            assert body == fh.read()
        code, detail = _req(port, "GET",
                            f"/api/pipeline/download/{run_id}/nope.bin")
        assert code == 404
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        conn.request("GET",
                     f"/api/pipeline/download/{run_id}/..%2F..%2Fetc")
        resp3 = conn.getresponse()
        resp3.read()
        conn.close()
        assert resp3.status in (403, 404)   # contained either way
        assert _req(port, "GET",
                    "/api/pipeline/download/nope/f.bin")[0] == 404

        # a finance 'explain:' is a dry run too: the explain face
        # answers, and the finance lifecycle never fetches
        code, resp = _req(port, "POST", "/api/pipeline/run", {
            "query": "explain: Get AAPL, MSFT daily stock prices with rsi",
            "options": {"source_dir": sf_dir,
                        "output_path": str(tmp_path / "never")}})
        assert code == 200
        run_id = resp["run_id"]
        _wait_status(port, run_id, {"completed"})
        code, results = _req(port, "GET",
                             f"/api/pipeline/results/{run_id}")
        assert code == 200 and results["status"] == "explained"
        assert results["reports"]["note"] == "not a dataops query"
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        conn.request("GET", f"/api/pipeline/events/{run_id}")
        raw = conn.getresponse().read().decode()
        conn.close()
        stages = [json.loads(line[6:])["stage"]
                  for line in raw.splitlines() if line.startswith("data: ")]
        assert "fetch" not in stages and stages[0] == "plan"
    finally:
        server.shutdown()


def test_http_run_census_histogram_target(spark, sf_dir, tmp_path):
    """The round-10 census variant over HTTP: histogram + distinct
    arms run through the rim, the report carries the inline telemetry
    (per-bucket docs, per-lang quantiles, dup rate), and both sidecar
    parquets land."""
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        FixtureFetcher,
        Pipeline,
    )

    service = PipelineService(pipeline_runner(
        lambda progress: Pipeline(spark, FixtureFetcher(spark, sf_dir),
                                  progress=progress)))
    server, port = _start(service)
    out = str(tmp_path / "census")
    try:
        code, resp = _req(port, "POST", "/api/pipeline/run", {
            "query": "census the corpus with a length histogram "
                     "and distinct content counts",
            "options": {"source_dir": sf_dir, "output_path": out}})
        assert code == 200
        run_id = resp["run_id"]
        _wait_status(port, run_id, {"completed"})
        code, results = _req(port, "GET",
                             f"/api/pipeline/results/{run_id}")
        assert code == 200 and results["status"] == "complete"
        rep = results["reports"]
        assert rep["n_docs"] > 0
        assert sum(rep["docs_per_length_bucket"].values()) == rep["n_docs"]
        assert set(rep["length_quantiles_per_lang"]) == \
            set(rep["docs_per_lang"])
        assert 0.0 <= rep["approx_dup_rate"] <= 1.0
        assert spark.read.parquet(out + "_hist").count() > 0
        assert spark.read.parquet(out + "_distinct").count() > 0
    finally:
        server.shutdown()
