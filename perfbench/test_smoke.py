"""Smoke tests: each workload end to end on tiny inputs, untraced and
traced, through the same command line the benchmark is run with, and
the serve clients' accounting of requests that raise.

    python -m pytest perfbench/test_smoke.py -q

Each end-to-end case starts its own Spark JVM (about a minute apiece).
"""

from __future__ import annotations

import json
import os
import socket
import subprocess
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run_bench(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    with open(os.path.join(HERE, "out", f"{workload}-seed3-trace{trace}"
                           ".json")) as fh:
        record = json.load(fh)
    return json.loads(proc.stdout.strip().splitlines()[-1]), record


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_smoke(workload, trace):
    res, record = run_bench(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["attempted"] >= 1
    # the only requests that may fail are the ones above the engine's
    # input cap, a known engine failure the benchmark counts
    failed = [r for r in record["requests"] if not r["ok"]]
    assert res["failed"] == len(failed)
    assert all(r.get("over_cap") for r in failed)
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in res["metrics"].items()}
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_serve_client_errors_count_as_failed(tmp_path):
    """Requests that raise in the client (here nothing listens on the
    port) are recorded as failed with their latency, and the client
    threads keep going to the end of the cycle."""
    wl = workloads.ServeMixed(types.SimpleNamespace(tmp=str(tmp_path)))
    wl.distinct, wl.cycle = inputs.serve_mix(3), inputs.SERVE_CYCLE
    wl.sf = wl.out_root = str(tmp_path)
    with socket.socket() as sock:
        sock.bind(("127.0.0.1", 0))
        port = sock.getsockname()[1]
    wl.server = types.SimpleNamespace(server_address=("127.0.0.1", port))
    reqs, window = wl.measure(0)
    assert len(reqs) == len(wl.distinct) + len(wl.cycle)
    assert all(not r["ok"] and "ConnectionRefused" in r["error"]
               and r["latency"] >= 0 for r in reqs)
    assert window >= 0
    # a request whose serial twin succeeded makes the run incorrect
    r = wl.call(wl.distinct[0], "x", ref={"status": "complete"})
    assert not r["ok"] and r["wrong"]
