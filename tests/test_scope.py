"""Request-scoped cache ownership and overlapped arms (``scope``):
concurrent requests keep their own caches, scopes nest, and overlapped
thunks run inside the caller's request and Spark local properties."""

from __future__ import annotations

import contextvars
import sys
import threading
import time

import pytest
from pyspark.sql import functions as F

from dynamic_etl_pipeline_thesis_ii_spark import scope
from dynamic_etl_pipeline_thesis_ii_spark.operators.integration import integrate


def _frame(spark, tag: str):
    """A small local frame; equal tags build equal plans."""
    return spark.range(20).select(
        "id", F.concat(F.lit(f"{tag}-"), "id").alias("name"),
        F.col("id").cast("double").alias("value"))


def _cached(df) -> bool:
    return df.storageLevel.useMemory


def _on_thread(ctx: contextvars.Context, fn, *args):
    """Run ``fn`` in request ``ctx`` on a thread of its own."""
    out = {}
    t = threading.Thread(target=lambda: out.update(r=ctx.run(fn, *args)))
    t.start()
    t.join(timeout=120)
    assert not t.is_alive()
    return out["r"]


def test_concurrent_integrate_keeps_other_requests_groups(spark):
    """integrate() releases nothing at entry: a second request's call
    leaves the first request's early-terminated group cached."""
    ctx_a, ctx_b = contextvars.Context(), contextvars.Context()

    def run(df):
        outputs, reports = integrate([df])
        outputs[0].count()
        return outputs, reports

    outs_a, reports_a = _on_thread(ctx_a, run, _frame(spark, "a"))
    assert reports_a[-1]["operation"] == "early_termination"
    outs_b, _ = _on_thread(ctx_b, run, _frame(spark, "b"))
    try:
        assert _cached(outs_a[0])
        assert _cached(outs_b[0])
    finally:
        ctx_a.run(scope.release)
        ctx_b.run(scope.release)
    assert not _cached(outs_a[0]) and not _cached(outs_b[0])


def test_shared_plan_survives_one_owners_release(spark):
    """Two requests persist separately built frames of one plan; the
    cache lives until the last owner releases."""
    ctx_1, ctx_2 = contextvars.Context(), contextvars.Context()
    df_1 = ctx_1.run(scope.persist, _frame(spark, "shared"))
    df_2 = ctx_2.run(scope.persist, _frame(spark, "shared"))
    df_1.count()
    ctx_1.run(scope.release)
    assert _cached(df_2) and _cached(_frame(spark, "shared"))
    ctx_2.run(scope.release)
    assert not _cached(df_2)


def test_inner_scope_releases_only_its_frames(spark):
    with scope.owned():
        outer = scope.persist(_frame(spark, "outer"))
        with scope.owned():
            inner = scope.persist(_frame(spark, "inner"))
            assert _cached(inner)
        assert not _cached(inner)
        assert _cached(outer)
    assert not _cached(outer)


def test_overlap_orders_results_and_reraises(spark):
    def slow(v, delay):
        def run():
            time.sleep(delay)
            return v
        return run

    assert scope.overlap(spark, slow(1, 0.3), slow(2, 0.0),
                         slow(3, 0.1)) == [1, 2, 3]

    def boom():
        raise ValueError("arm failed")

    with pytest.raises(ValueError, match="arm failed"):
        scope.overlap(spark, slow(1, 0.0), boom)


def test_overlap_thunks_share_the_callers_request(spark):
    """A thunk sees the caller's local properties and tags, and what it
    persists is released by the caller's release()."""
    sc = spark.sparkContext
    with scope.owned():
        sc.setLocalProperty("scope.test", "caller")
        spark.addTag("scope-test")
        try:
            prop, tags, df = scope.overlap(
                spark, lambda: sc.getLocalProperty("scope.test"),
                lambda: spark.getTags(),
                lambda: scope.persist(_frame(spark, "thunk")))
        finally:
            sc.setLocalProperty("scope.test", None)
            spark.removeTag("scope-test")
        assert prop == "caller"
        assert "scope-test" in tags
        assert _cached(df)
        scope.release()
        assert not _cached(df)


def test_owner_counts_survive_concurrent_requests(spark):
    """More requests than cores persist and release one plan while an
    anchor request holds it: a lost count update would unpersist the
    anchor's cache early or leave the plan cached after the last
    release."""
    anchor = contextvars.Context()
    held = anchor.run(scope.persist, _frame(spark, "stress"))
    errors = []

    def churn():
        try:
            for _ in range(5):
                scope.persist(_frame(spark, "stress"))
                scope.release()
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=churn) for _ in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert _cached(held)
    anchor.run(scope.release)
    assert not _cached(held)
    assert held.semanticHash() not in scope._owners
