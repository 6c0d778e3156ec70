"""Pipeline orchestrator (reference entry points A/B — SURVEY.md §3).

``Pipeline.run(query)`` reproduces the reference's four-stage lifecycle
(``pipeline.py:8-34``, ``backend/app/services/pipeline_service.py:100-280``)
on Spark:

1. **Plan**   — planner (rule-based default, LLM-pluggable) → typed
   ExecutionPlan → semantic scoring → parameter validation.
2. **Fetch**  — a pluggable ``Fetcher`` executes each request and
   returns a DataFrame (the shipped ``FixtureFetcher`` synthesizes
   deterministic API-shaped frames from the testdata tables — the
   network client slot in an online deployment).
3. **Integrate** — union/similarity-join orchestration
   (:mod:`operators.integration`).
4. **Transform** — cleaning + keyword->DSL enrichment per output.
5. **Publish** — sinks + run-artifact report; per-stage progress
   events via callback (the reference streams them over WebSocket).

Everything between fetch and publish is LAZY — one Spark action per
output at the sink, so Catalyst optimizes each output's whole pipeline
as a single plan.
"""

from __future__ import annotations

import re
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any, Callable, Optional, Protocol, Union

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dynamic_etl_pipeline_thesis_ii_spark.config import EngineConfig
from dynamic_etl_pipeline_thesis_ii_spark.functions.compiler import apply_features
from dynamic_etl_pipeline_thesis_ii_spark.functions.dsl import validate_dsl
from dynamic_etl_pipeline_thesis_ii_spark.functions.registry import FEATURE_REGISTRY
from dynamic_etl_pipeline_thesis_ii_spark.operators import bpe as BPE
from dynamic_etl_pipeline_thesis_ii_spark.operators import dedup as D
from dynamic_etl_pipeline_thesis_ii_spark.operators import multimodal as M
from dynamic_etl_pipeline_thesis_ii_spark.operators import packing as PK
from dynamic_etl_pipeline_thesis_ii_spark.operators import quality as Q
from dynamic_etl_pipeline_thesis_ii_spark.operators import sampling as SA
from dynamic_etl_pipeline_thesis_ii_spark.operators import similarity as S
from dynamic_etl_pipeline_thesis_ii_spark.operators import text as T
from dynamic_etl_pipeline_thesis_ii_spark.operators import unigram as U
from dynamic_etl_pipeline_thesis_ii_spark.operators import web as WB
from dynamic_etl_pipeline_thesis_ii_spark.operators.cleaning import clean_dataframe
from dynamic_etl_pipeline_thesis_ii_spark.operators.integration import integrate
from dynamic_etl_pipeline_thesis_ii_spark.queries import dataops_suite
from dynamic_etl_pipeline_thesis_ii_spark.sources import archives, pdf, sinks, warc
from dynamic_etl_pipeline_thesis_ii_spark.sources.registry import Catalog
from dynamic_etl_pipeline_thesis_ii_spark.plans.contracts import (
    APIResult,
    ExecutionPlan,
    ExecutionResults,
    PlannerResponse,
)
from dynamic_etl_pipeline_thesis_ii_spark.plans.planner import (
    RulePlanner,
    SemanticValidator,
    to_execution_plan,
)
from dynamic_etl_pipeline_thesis_ii_spark.plans.validators import (
    OutputValidator,
    ParameterValidator,
)

ProgressFn = Callable[[str, dict], None]
# what a dataops handler returns: (outputs, report, rows). ``rows`` is
# the published row count, or the whole ``publish`` event payload when
# that is not {rows, path=output_path}.
Handled = tuple[list, dict, Union[int, None, dict]]

# 'explain: <query>' — the dry-run face, shared by run_dataops and the
# serve runner so every explain (finance text included) stays a dry run
EXPLAIN_RE = re.compile(r"^\s*explain\s*[:,]?\s+(.*)$",
                        re.IGNORECASE | re.DOTALL)


class Rejected(Exception):
    """A dataops plan the engine cannot run; ``str(exc)`` is the
    actionable reason the run's rejected result carries."""


@contextmanager
def _rejecting(reason: str, cause: bool = True):
    """Turn any failure inside the block (an unreadable store, a
    malformed path) into :class:`Rejected` — ``reason`` plus the
    failure's own text unless ``cause`` is False."""
    try:
        yield
    except Exception as exc:
        raise Rejected(f"{reason}: {exc}" if cause else reason) from exc


def _rows(frame: DataFrame, table: str) -> int:
    """Row count of a source table; an empty one rejects."""
    n = frame.count()
    if n == 0:
        raise Rejected(f"{table} table is empty")
    return n

# X2 deterministic fallback: enrichment keyword -> default DSL params
# (the reference's LLM translator fills the same defaults from its
# prompt; transform/llm_translator.py:21-146)
_DSL_DEFAULTS: dict[str, dict[str, Any]] = {
    "sma": {"on": "close", "window": 20},
    "ema": {"on": "close", "window": 20},
    "rsi": {},
    "macd": {},
    "stoch": {},
    "rolling_vol": {"on": "close", "window": 20},
    "atr": {},
    "bbands": {},
    "obv": {},
    "ret": {"on": "close"},
    "zscore": {"on": "close", "window": 20},
    "rolling_avg": {"on": "close", "window": 20},
}


def translate_keywords(keywords: list[str]) -> dict:
    """Deterministic keyword->DSL translation (X2 fallback)."""
    feats = [{"name": k, "params": dict(_DSL_DEFAULTS.get(k, {}))}
             for k in keywords if k in FEATURE_REGISTRY["features"]]
    return {"features": feats}


class Fetcher(Protocol):
    """Pluggable fetch slot. Implementations: :class:`FixtureFetcher`
    (offline, below) and ``sources.http_clients.HttpFetcher`` (live
    Polygon/Alpha Vantage over a retrying transport)."""

    def fetch(self, request) -> DataFrame: ...


class FixtureFetcher:
    """Offline executor: deterministic API-shaped frames from the
    testdata tables. Bars derive from `events` (value walk per ticker,
    one row per date); indicators from daily event averages."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    def _daily(self) -> DataFrame:
        ev = Catalog(self.spark, self.sf_dir).events
        return (ev.groupBy(F.col("ts").cast("date").alias("timestamp"))
                .agg(F.round(F.avg("value"), 4).alias("base"),
                     F.sum("user_id").alias("vol")))

    def fetch(self, request) -> DataFrame:
        params = request.parameters
        ticker = params.get("ticker") or params.get("symbol") or "ECON"
        # per-ticker deterministic price offset so the two API sides of
        # one ticker agree while tickers differ
        offset = float(sum(ord(c) for c in ticker) % 97)
        d = self._daily()
        is_econ = (params.get("endpoint_type") == "economic_indicator"
                   or request.endpoint_name in ("REAL_GDP", "CPI",
                                                "FEDERAL_FUNDS_RATE"))
        if is_econ:
            return d.select("timestamp",
                            F.round(F.col("base") / 10, 4).alias("value"))
        noise = 0.0 if request.api_name == "polygon" else 0.0001
        base = F.col("base") + F.lit(offset)
        return d.select(
            F.lit(ticker).alias("ticker"), "timestamp",
            F.round(base * (1.0 + noise), 4).alias("open"),
            F.round(base * (1.01 + noise), 4).alias("high"),
            F.round(base * (0.99 - noise), 4).alias("low"),
            F.round(base * (1.001 + noise), 4).alias("close"),
            F.col("vol").cast("double").alias("volume"))


class Pipeline:
    """End-to-end engine driver with per-stage progress events."""

    def __init__(self, spark: SparkSession, fetcher: Fetcher,
                 cfg: Optional[EngineConfig] = None,
                 planner=None, translator=None,
                 progress: Optional[ProgressFn] = None):
        self.spark = spark
        self.fetcher = fetcher
        self.cfg = cfg or EngineConfig()
        self.planner = planner or RulePlanner()
        self.translator = translator  # e.g. plans.llm.LLMTranslator
        self.param_validator = ParameterValidator()
        self.semantic_validator = SemanticValidator()
        self.output_validator = OutputValidator()
        self.progress = progress or (lambda stage, info: None)

    # -- stage 1: plan -----------------------------------------------------
    def plan(self, query: str) -> tuple[PlannerResponse, ExecutionPlan]:
        resp = self.planner.analyze(query)
        self.progress("plan", {"proceed": resp.proceed,
                               "n_requests": len(resp.api_requests)})
        if not resp.proceed:
            return resp, ExecutionPlan()
        plan = to_execution_plan(resp)
        plan = self.semantic_validator.validate_plan(plan, resp.semantic_keywords)
        plan = self.param_validator.validate_plan(plan)
        self.progress("validate_plan", {
            "statuses": [r.validation_status for r in plan.ranked_requests]})
        return resp, plan

    # -- stage 2: fetch ----------------------------------------------------
    def execute(self, plan: ExecutionPlan,
                max_concurrency: Optional[int] = None) -> ExecutionResults:
        """Run every validated request through the fetcher. Requests are
        independent, and for HTTP fetchers the latency is network-bound
        (plan construction is lazy Spark either way), so they fan out on
        a small driver-side thread pool — a 20-ticker plan pays ~5
        round-trip latencies instead of 20. Result order matches plan
        order regardless of completion order; failures degrade
        per-request exactly as in the sequential reference loop
        (``ingestor.py:201-298``).

        When ``max_concurrency`` is not given, the fetcher's own
        ``max_concurrency`` attribute decides (default 4): live HTTP
        fetchers advertise 1, because free-tier vendors (Alpha Vantage:
        5 req/min) answer concurrent bursts with HTTP-200 rate-limit
        notes that would degrade into per-request parse failures.
        ``max_concurrency=1`` is strictly sequential."""
        if max_concurrency is None:
            max_concurrency = getattr(self.fetcher, "max_concurrency", 4)
        t0 = time.perf_counter()

        def one(req) -> APIResult:
            if req.validation_status == "ERROR":
                return APIResult(req.api_name, req.endpoint_name,
                                 "FAILED", used_parameters=req.parameters,
                                 error_message="; ".join(req.validation_errors))
            try:
                df = self.fetcher.fetch(req)
                return APIResult(req.api_name, req.endpoint_name,
                                 "SUCCESS", data=df,
                                 used_parameters=req.parameters)
            except Exception as exc:  # noqa: BLE001 — reference degrades per-request
                return APIResult(req.api_name, req.endpoint_name,
                                 "FAILED", used_parameters=req.parameters,
                                 error_message=str(exc))

        reqs = plan.ranked_requests
        if max_concurrency > 1 and len(reqs) > 1:
            with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
                results = list(pool.map(one, reqs))
        else:
            results = [one(r) for r in reqs]
        failed = [req for req, res in zip(reqs, results)
                  if res.status == "FAILED"]
        ok = sum(1 for r in results if r.status == "SUCCESS")
        overall = ("COMPLETE" if ok == len(results) and results else
                   "PARTIAL" if ok else "FAILED")
        out = ExecutionResults(results=results, failed_requests=failed,
                               overall_status=overall,
                               execution_time_ms=int((time.perf_counter() - t0) * 1000))
        self.progress("fetch", {"overall": overall, "ok": ok,
                                "total": len(results)})
        return out

    # -- full run ----------------------------------------------------------
    def run(self, query: str) -> dict:
        resp, plan = self.plan(query)
        if not resp.proceed:
            return {"status": "rejected", "reason": "non-finance query",
                    "outputs": [], "reports": {}}

        execution = self.execute(plan)
        frames = [r.data for r in execution.results if r.status == "SUCCESS"]
        if not frames:
            return {"status": "failed", "reason": "all requests failed",
                    "outputs": [], "reports": {}}

        val_reports = [self.output_validator.validate_dataset(
            r.data, resp.features.native, r.api_name, r.endpoint_name,
            r.used_parameters.get("ticker") or r.used_parameters.get("symbol"))
            for r in execution.results if r.status == "SUCCESS"]
        self.progress("validate_output", {
            "passed": sum(1 for v in val_reports if v.validation_passed),
            "total": len(val_reports)})

        outputs, integration_ops = integrate(frames, self.cfg)
        self.progress("integrate", {"n_groups": len(outputs)})

        if self.translator is not None:
            dsl = self.translator.translate(resp.features.enrichment)
        else:
            dsl = translate_keywords(resp.features.enrichment)
        dsl, dsl_errors = validate_dsl(dsl, FEATURE_REGISTRY)
        transformed = []
        transform_reports = []
        for i, out in enumerate(outputs):
            cleaned, clean_report = clean_dataframe(out)
            if dsl and dsl["features"]:
                cleaned = apply_features(cleaned, dsl, entity_col="ticker",
                                         ts_col="timestamp")
            transformed.append(cleaned)
            transform_reports.append(clean_report)
        self.progress("transform", {"n_outputs": len(transformed),
                                    "dsl_errors": dsl_errors or []})

        return {
            "status": "complete",
            "outputs": transformed,
            "reports": {
                "plan": {"tickers": resp.tickers,
                         "enrichment": resp.features.enrichment,
                         "statuses": [r.validation_status
                                      for r in plan.ranked_requests]},
                "execution": {"overall": execution.overall_status,
                              "time_ms": execution.execution_time_ms},
                "output_validation": [v.__dict__ for v in val_reports],
                "integration": integration_ops,
                "transform": transform_reports,
            },
        }

    # -- dataops targets: NL query -> table entry -> handler -> sink ------
    def run_dataops(self, query: str, source_dir: str,
                    output_path: str) -> dict:
        """Plan-level training-data target: NL query -> typed dataops
        plan -> curation composition (curate -> per-language token-
        budget selection -> sequence packing -> shard assignment, the
        same lazy DAG as the ``corpus_to_shards`` registry query) ->
        ``write_shards`` with read-back verification.

        The finance lifecycle (``run``) and this target share the
        publish/report conventions; the composition itself is the
        engine's unchanged scale path — the orchestrator only binds
        NL-derived parameters and the sink.

        Every target routes through :data:`DATAOPS_TARGETS`: this
        runner checks the entry's required plan key, calls its
        handler, and alone builds the rejected/complete result and
        emits the ``publish`` event."""
        # dry-run face: 'explain: <query>' returns the typed plan the
        # engine WOULD execute — no Spark job, no sink write. The
        # reference exposes plan validation as a first-class stage;
        # this is its ask-before-you-run face.
        if m := EXPLAIN_RE.match(query):
            inner = parse_dataops_query(m.group(1))
            self.progress("plan", {"proceed": False,
                                   "explain": True,
                                   "target": (inner or {}).get("target")})
            if inner is None:
                return {"status": "explained", "outputs": [],
                        "reports": {"plan": None,
                                    "note": "not a dataops query"}}
            return {"status": "explained", "outputs": [],
                    "reports": {"plan": inner}}
        plan = parse_dataops_query(query)
        self.progress("plan", {"proceed": plan is not None,
                               "target": plan["target"] if plan else None})
        try:
            if plan is None:
                raise Rejected("not a dataops query")
            target = DATAOPS_TARGETS[plan["target"]]
            if target.requires and not plan.get(target.requires):
                raise Rejected(target.reason.format_map(plan))
            outputs, report, rows = target.handler(self, plan, source_dir,
                                                   output_path)
        except Rejected as exc:
            return {"status": "rejected", "reason": str(exc),
                    "outputs": [],
                    "reports": {} if plan is None else {"plan": dict(plan)}}
        self.progress("publish", rows if isinstance(rows, dict)
                      else {"rows": rows, "path": output_path})
        return {"status": "complete", "outputs": outputs,
                "reports": {"plan": dict(plan), **report}}

    def _publish(self, frame: DataFrame, path: str,
                 read_back: bool = True) -> Optional[DataFrame]:
        """Overwrite-write ``frame`` at ``path`` and return the lazy
        read-back of what landed, so reports count the written rows.
        No action beyond the write; ``read_back=False`` also skips the
        read's schema pass for sinks nothing reads."""
        frame.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path) if read_back else None

    def _run_corpus_to_shards(self, plan: dict, source_dir: str,
                              output_path: str) -> Handled:
        """The default target: the ``corpus_to_shards`` composition
        written through ``write_shards`` with placement verification
        (and the per-shard manifest when asked)."""
        if plan["n_buckets"] is None:
            # corpus-derived bucket count (one cheap count): the
            # packing shuffle's task count IS n_buckets, so it must
            # grow with the corpus; floor at the user's shard count so
            # every shard draws from at least one packing stream. The
            # derived value lands in plan/report — bucket count is
            # part of the output's deterministic identity (stream
            # membership hashes id % n_buckets).
            n_docs = Catalog(self.spark, source_dir).documents.count()
            plan["n_buckets"] = derive_n_buckets(
                n_docs, floor=max(4, plan["n_shards"]))
        frame = dataops_suite.corpus_to_shards_frame(
            self.spark, source_dir,
            token_budget=plan["token_budget"], seq_len=plan["seq_len"],
            n_shards=plan["n_shards"], n_buckets=plan["n_buckets"],
            tokenizer=plan["tokenizer"])
        self.progress("curate", {"params": dict(plan)})
        try:
            # the frame's persisted `shard` column IS the writer's hash;
            # drop it and let write_shards recompute + verify placement
            sink_report = sinks.write_shards(
                frame.drop("shard"), output_path,
                n_shards=plan["n_shards"], key_col="id",
                shuffle_salt=plan.get("shuffle_salt"), verify=True,
                manifest=plan.get("manifest", False))
        finally:
            dataops_suite.release_shared_caches()
        return [frame], {"sink": sink_report}, sink_report.get("rows_written")

    def _run_incremental_dedup(self, plan: dict, source_dir: str,
                               output_path: str) -> Handled:
        """'dedup the batch against the seen snapshot at <path>': the
        continuous-ingest step — source_dir's documents are the new
        batch, the snapshot parquet holds the (id, key) content keys
        of everything already ingested. Fresh rows (not in the
        snapshot, then exact-deduped within the batch) land at the
        output; the GROWN snapshot (old keys + the fresh rows' keys)
        lands at ``<output>_snapshot`` so the next batch feeds it
        straight back — the multi-epoch grow cycle as an NL target.
        'with a bloom filter' swaps the snapshot anti-join's input
        for the broadcast Bloom pre-filter (identical answer, ~fpp of
        the batch through the shuffle). The fitted filter PERSISTS
        beside the snapshot (``<snapshot>_bloom``): epoch N+1 reloads
        it instead of re-scanning the snapshot (the 'read the
        snapshot once' contract in ``dedup.py``), ORs the fresh
        batch's keys in (batch-cost), and lands the grown filter at
        ``<output>_snapshot_bloom`` next to the grown snapshot — a
        refit (2x-capacity resize) happens only when accumulated
        inserts exceed the capacity the filter was sized for."""
        seen = self.spark.read.parquet(plan["snapshot_path"])
        batch = Catalog(self.spark, source_dir).documents
        bloom, bloom_loaded = None, False
        if plan.get("bloom"):
            try:
                bloom = D.BloomFilter.load(
                    self.spark, plan["snapshot_path"] + "_bloom")
                bloom_loaded = True
            except Exception:
                pass    # no stored filter yet: first epoch fits one
            if bloom is None:
                n_seen = seen.select("key").distinct().count()
                bloom = D.BloomFilter.fit(seen.select("key"), "key",
                                          fpp=0.01, n_items=n_seen,
                                          capacity=2 * n_seen)
            fresh = D.bloom_snapshot_fresh(batch, seen, bloom=bloom)
            keep = F.min("doc_id").over(Window.partitionBy("__k"))
            fresh = (fresh.withColumn("__keep", keep)
                     .filter(F.col("doc_id") == F.col("__keep"))
                     .drop("__k", "__keep"))
        else:
            fresh = D.incremental_exact(batch, seen)
        self.progress("dedup", {"params": dict(plan),
                                "bloom_loaded": bloom_loaded})
        back = self._publish(fresh, output_path)
        n_fresh = back.count()
        grown = seen.select("id", "key").unionByName(
            D.content_keys(back)).distinct()
        grown.write.mode("overwrite").parquet(output_path + "_snapshot")
        # running corpus census rides the snapshot store too: fold the
        # FRESH rows' census into the loaded one at batch cost — the
        # result equals a full recompute over everything ever
        # ingested, without re-scanning the corpus (text.corpus_census
        # contract; disjointness is exactly what the dedup guarantees)
        fresh_census = T.corpus_census(back)
        try:
            prior = self.spark.read.parquet(
                plan["snapshot_path"] + "_census")
            census = T.merge_census(prior, fresh_census)
        except Exception:       # bootstrap epoch: no census yet
            census = fresh_census
        census.write.mode("overwrite").parquet(
            output_path + "_snapshot_census")
        bloom_refit = False
        if bloom is not None:
            if bloom.n_items + n_fresh > bloom.capacity:
                # growth ate the sizing margin: refit from the grown
                # snapshot with fresh 2x headroom (amortized — happens
                # once per capacity doubling, like a dynamic array)
                grown_keys = self.spark.read.parquet(
                    output_path + "_snapshot")
                n_grown = grown_keys.select("key").distinct().count()
                bloom = D.BloomFilter.fit(grown_keys.select("key"), "key",
                                          fpp=bloom.fpp, n_items=n_grown,
                                          capacity=2 * n_grown)
                bloom_refit = True
            else:
                bloom.add_keys(D.content_keys(back).select("key"),
                               n_new=n_fresh)
            bloom.save(self.spark, output_path + "_snapshot_bloom")
        return [fresh], {"batch_rows": batch.count(),
                         "fresh_rows": n_fresh,
                         "bloom_loaded": bloom_loaded,
                         "bloom_refit": bloom_refit,
                         "snapshot_path_out": output_path + "_snapshot",
                         "census_path_out":
                             output_path + "_snapshot_census"}, n_fresh

    def _run_passage_snapshot(self, plan: dict, source_dir: str,
                              output_path: str) -> Handled:
        """'build a passage snapshot of the corpus (windows of 50
        tokens)': persist the documents table's distinct window
        hashes (:func:`operators.dedup.save_window_snapshot` —
        whash-sorted parquet + window-geometry sidecar) — the build
        face of the passage_probe target, completing the
        build/probe/grow lifecycle for ExactSubstr exactly as the
        band snapshot does for MinHash."""
        docs = Catalog(self.spark, source_dir).documents
        n_in = _rows(docs, "documents")
        report = D.save_window_snapshot(docs, output_path,
                                        w=plan["window"])
        return [], {"docs_in": n_in, **report}, report["n_windows"]

    def _run_passage_probe(self, plan: dict, source_dir: str,
                           output_path: str) -> Handled:
        """'flag duplicated passages against the passage snapshot at
        /path': continuous-ingest ExactSubstr — which passages of
        the batch already exist in the seen corpus
        (:func:`operators.dedup.incremental_substring_spans`:
        batch-cost broadcast-prune probe of the whash-sorted store,
        within-batch duplicates included). '... and update the
        snapshot' APPENDS the batch's fresh window hashes — the
        epoch-grow step. The probe tokenizes with the SNAPSHOT's own
        window size from the geometry sidecar. Rejects a missing or
        unreadable snapshot path with an actionable reason."""
        snap = plan["snapshot_path"].rstrip("/")
        with _rejecting(f"no passage snapshot readable at "
                        f"{plan['snapshot_path']}"):
            self.spark.read.parquet(snap + "_meta").first()["w"]
        batch = Catalog(self.spark, source_dir).documents
        spans, fresh = D.incremental_substring_spans(
            batch, self.spark, snap)
        outputs, report, n_spans = self._publish_spans(spans, output_path)
        report["fresh_windows"] = fresh.count()
        if plan.get("update"):
            fresh.write.mode("append").parquet(snap)
        report["snapshot_updated"] = bool(plan.get("update"))
        return outputs, report, n_spans

    def _publish_spans(self, spans: DataFrame,
                       output_path: str) -> Handled:
        """Publish a flagged-span table; report spans and documents."""
        back = self._publish(spans, output_path)
        n_spans = back.count()
        n_docs = back.select("id").distinct().count()
        return [spans], {"spans_flagged": n_spans,
                         "docs_affected": n_docs}, n_spans

    def _publish_cut(self, cleaned: DataFrame,
                     output_path: str) -> Handled:
        """Publish a span-cut corpus (id, text, n_removed); report the
        documents kept, the documents touched and the tokens cut."""
        back = self._publish(cleaned, output_path)
        agg = back.agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.when(F.col("n_removed") > 0, 1).otherwise(0))
            .alias("affected"),
            F.sum("n_removed").alias("removed")).first()
        return [cleaned], {"docs_out": agg["docs"],
                           "docs_affected": int(agg["affected"] or 0),
                           "tokens_removed": int(agg["removed"] or 0)}, \
            agg["docs"]

    def _run_embed_documents(self, plan: dict, source_dir: str,
                             output_path: str) -> Handled:
        """'embed the documents, 128 dimensions': deterministic
        hashed random-projection embeddings
        (:func:`operators.similarity.hash_embed`) written
        embeddings-table-shaped (vec_id, embedding) — write to
        ``<dir>/embeddings.parquet`` and every dense target (ann
        index build/search, semantic dedup, clustering, hybrid
        search) chains off the output dir with no external encoder.
        The report carries the dim and a norm sanity check."""
        docs = Catalog(self.spark, source_dir).documents
        emb = (S.hash_embed(docs, dim=plan["dim"])
               .select(F.col("id").alias("vec_id"), "embedding"))
        self.progress("embed", {"params": dict(plan)})
        back = self._publish(emb, output_path)
        n = back.count()
        norms = back.select(F.aggregate(
            F.col("embedding").cast("array<double>"), F.lit(0.0),
            lambda a, x: a + x * x).alias("sq")) \
            .agg(F.round(F.avg("sq"), 4).alias("mean_sq")).first()
        return [emb], {"n_vectors": n, "dim": plan["dim"],
                       "mean_sq_norm": norms["mean_sq"]}, n

    def _run_bin_pack(self, plan: dict, source_dir: str,
                      output_path: str) -> Handled:
        """'bin pack the corpus into bins of 1024 tokens without
        truncation': truncation-free FFD packing
        (:func:`operators.packing.bin_pack_documents` — every doc
        whole, no bin over budget, oversize docs isolated and
        counted). The assignment lands at the sink; the report
        carries the per-bucket efficiency stats (bins vs the
        oversize-aware lower bound, waste fraction) — the number the
        FFD trade is judged by."""
        docs = Catalog(self.spark, source_dir).documents
        n_docs = docs.count()
        nb = plan["n_buckets"] or derive_n_buckets(n_docs)
        packed = PK.bin_pack_documents(docs, budget=plan["budget"],
                                       n_buckets=nb)
        self.progress("bin_pack", {"params": dict(plan),
                                   "n_buckets": nb})
        back = self._publish(packed, output_path)
        stats = [r.asDict() for r in
                 PK.bin_pack_stats(back, plan["budget"])
                 .orderBy("bucket").collect()]
        return [packed], {"n_docs": n_docs, "n_buckets": nb,
                          "total_bins": sum(s["bins_used"] for s in stats),
                          "oversize_docs": sum(
                              s["oversize_docs"] for s in stats),
                          "bucket_stats": stats}, back.count()

    def _run_license_scan(self, plan: dict, source_dir: str,
                          output_path: str) -> Handled:
        """'license audit the corpus' / 'scan the corpus for
        licenses, dropping copyleft and restricted documents':
        corpus-governance scan (:func:`operators.text.license_scan`
        — per-doc marker flags + most-restrictive class, one scan,
        zero shuffles). Without a drop list the flag table lands at
        the sink; with one, the KEPT documents land instead and the
        flag pass rides the same scan. Per-class counts inline in
        the report either way."""
        docs = Catalog(self.spark, source_dir).documents
        flags = T.license_scan(docs)
        counts = {r["license_class"]: r["n"]
                  for r in flags.groupBy("license_class")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
        if plan["drop"]:
            out_frame = docs.filter(
                ~T.license_class(F.col("text")).isin(plan["drop"]))
        else:
            out_frame = flags
        self.progress("license_scan", {"params": dict(plan),
                                       "class_counts": counts})
        n_out = self._publish(out_frame, output_path).count()
        return [out_frame], {"class_counts": counts, "rows_out": n_out,
                             "dropped_classes": plan["drop"]}, n_out

    def _run_compact_store(self, plan: dict, source_dir: str,
                           output_path: str) -> Handled:
        """'compact the snapshot at /path': rewrite an append-grown
        store (band/passage/hamming/key snapshots — N epochs of
        parquet appends = N small file batches, the classic
        small-file problem) through
        :func:`sources.sinks.compact_snapshot` into the run's output
        — never in place. Key/sort columns infer from the store's
        own schema: (band, key) for hamming stores, (whash) for
        passage stores, (band, id) for MinHash band tables, (key)
        for content-key snapshots, else every column. The report
        carries files before/after and the deduped row count."""
        with _rejecting(f"no store readable at {plan['store_path']}"):
            cols = self.spark.read.parquet(plan["store_path"]).columns
        if {"band", "key"} <= set(cols):
            key_cols = ["band", "key"]
        elif "whash" in cols:
            key_cols = ["whash"]
        elif "band" in cols and "id" in cols:
            key_cols = ["band", "id"]
        elif "key" in cols:
            key_cols = ["key"]
        else:
            key_cols = list(cols)
        report = sinks.compact_snapshot(self.spark, plan["store_path"],
                                        output_path, key_cols)
        return [], {"key_cols": key_cols, **report}, report["rows"]

    def _run_link_graph_build(self, plan: dict, source_dir: str,
                              output_path: str) -> Handled:
        """'build the link graph from the crawl at /path': WARC
        responses -> href extraction -> distinct (src, dst)
        registered-domain edges at the sink
        (:func:`operators.web.page_link_edges` over the RAW page
        HTML, before any text rendering) — the front half of the
        crawl -> graph -> rank -> weight pipeline; point a follow-up
        'rank the domains by the link graph at <output>' at the
        result. Rejects a missing/unreadable crawl path."""
        with _rejecting(f"no crawl readable at {plan['crawl_path']}"):
            recs = warc.read_warc(self.spark, plan["crawl_path"])
            recs.schema     # force the source to resolve
        pages = (recs.filter((F.col("warc_type") == "response")
                             & (F.col("http_status") == 200)
                             & F.col("http_content_type")
                             .contains("html")
                             & F.col("text").isNotNull())
                 .select(F.col("target_uri").alias("url"),
                         F.col("text").alias("html")))
        n_pages = pages.count()
        edges = WB.page_link_edges(pages)
        self.progress("link_graph", {"params": dict(plan),
                                     "pages": n_pages})
        back = self._publish(edges, output_path)
        n_edges = back.count()
        n_domains = (back.select(F.col("src").alias("d"))
                     .unionByName(back.select(F.col("dst").alias("d")))
                     .distinct().count())
        return [edges], {"n_pages": n_pages, "n_edges": n_edges,
                         "n_domains": n_domains}, n_edges

    def _run_domain_rank(self, plan: dict, source_dir: str,
                         output_path: str) -> Handled:
        """'rank the domains by the link graph at /path, 10
        iterations': PageRank over a persisted (src, dst) domain
        edge table (:func:`operators.web.domain_pagerank`) — the
        crawl-curation quality prior (CommonCrawl-style domain
        ranking; join the ranks onto pages by registered domain to
        weight or filter). The ranked table lands at the sink; the
        report inlines the top-10 domains. Rejects a missing path or
        a parquet without (src, dst) columns with an actionable
        reason."""
        with _rejecting(f"no link graph readable at "
                        f"{plan['edges_path']}"):
            edges = self.spark.read.parquet(plan["edges_path"])
            if not {"src", "dst"} <= set(edges.columns):
                raise ValueError(
                    f"expected (src, dst) columns, found "
                    f"{edges.columns}")
        if plan.get("method") == "harmonic":
            ranks = WB.domain_harmonic(edges.select("src", "dst"),
                                       max_radius=plan["n_iter"])
            score = "harmonic"
        else:
            ranks = WB.domain_pagerank(edges.select("src", "dst"),
                                       n_iter=plan["n_iter"])
            score = "rank"
        self.progress("domain_rank", {"params": dict(plan)})
        back = self._publish(ranks, output_path)
        n = back.count()
        # mirrored report shape across both methods — (domain, score,
        # in_degree) — so users can compare the two rankings from one
        # target. PageRank's output carries in_degree already; the
        # harmonic arm looks it up for just the top rows (one groupBy
        # over the edges filtered to <= 10 domains — never the graph).
        top_rows = back.orderBy(F.col(score).desc(),
                                F.col("domain")).take(10)
        if score == "harmonic":
            doms = [r["domain"] for r in top_rows]
            indeg = {r["dst"]: r["n"] for r in
                     edges.filter(F.col("dst").isin(doms))
                     .groupBy("dst")
                     .agg(F.count(F.lit(1)).alias("n")).collect()}
            top = [{"domain": r["domain"], "score": r[score],
                    "in_degree": indeg.get(r["domain"], 0)}
                   for r in top_rows]
        else:
            top = [{"domain": r["domain"], "score": r[score],
                    "in_degree": r["in_degree"]}
                   for r in top_rows]
        return [ranks], {"n_domains": n,
                         "method": plan.get("method", "pagerank"),
                         "top_domains": top}, n

    def _run_substring_dedup(self, plan: dict, source_dir: str,
                             output_path: str) -> Handled:
        """'remove duplicated passages across the corpus (windows of
        50 tokens)': cross-document ExactSubstr dedup (D18 —
        :func:`operators.dedup.exact_substring_dedup`): every token
        run of >= w tokens that repeats anywhere in the corpus keeps
        its first occurrence and is cut everywhere else. The cleaned
        corpus (id, text, n_removed) lands at the sink; the report
        counts flagged spans, affected documents and removed tokens.
        'flag' / 'find' phrasings report the span table itself
        without rewriting the corpus."""
        docs = Catalog(self.spark, source_dir).documents
        w = plan["window"]
        spans = D.substring_duplicate_spans(docs, w=w)
        if plan.get("flag_only"):
            return self._publish_spans(spans, output_path)
        cleaned = D.exact_substring_dedup(docs, w=w)
        self.progress("substring_dedup", {"params": dict(plan)})
        return self._publish_cut(cleaned, output_path)

    def _media_or_none(self, source_dir: str):
        """The source dir's optional ``media`` table, or None when the
        dir carries no readable media parquet — :meth:`_media` turns
        None into the actionable-rejection contract."""
        try:
            media = Catalog(self.spark, source_dir).media
            media.schema      # force the read to resolve
            return media
        except Exception:
            return None

    def _media(self, source_dir: str) -> DataFrame:
        """The source dir's ``media`` table; a missing one rejects."""
        media = self._media_or_none(source_dir)
        if media is None:
            raise Rejected(f"no media table readable at "
                           f"{source_dir}/media.parquet")
        return media

    def _run_media_dedup(self, plan: dict, source_dir: str,
                         output_path: str) -> Handled:
        """'dedup the images' / 'dedup the audio clips': perceptual
        near-dup dedup over the source dir's ``media`` table — dHash
        (images) or aHash (audio) fingerprints (one Arrow payload
        scan) paired through Manku hamming banding, connected
        components, lowest media_id kept per cluster. Kept rows land
        at the sink; the corpus' BANDED fingerprint snapshot + band
        geometry land at ``<output>_snapshot``
        (``dedup.save_hamming_snapshot`` — range-partitioned on
        (band, key) so stream/batch probes prune on footer stats),
        closing the build half of the media lifecycle the Bloom (D11)
        and ANN-index (N9) stores already have: later batches probe
        at batch cost via the probe target. Hot-bucket cap telemetry
        (``dedup.bucket_cap_stats``) rides the report — the engine's
        no-silent-caps discipline on its hottest knob."""
        modality = plan.get("modality", "image")
        fingerprint = {"image": M.image_dhash, "audio": M.audio_ahash,
                       "video": M.video_vhash}[modality]
        dec_key = {"image": "images_decodable",
                   "audio": "clips_decodable",
                   "video": "videos_decodable"}[modality]
        media = self._media(source_dir)
        n_in = _rows(media, "media")
        mh, nb = plan["max_hamming"], plan["n_blocks"]
        # fingerprint ONCE (the payload decode dominates this target's
        # cost) and share the frame between the pair join, the kept-row
        # anti-join and the persisted snapshot
        fps = fingerprint(media).persist()
        n_decodable = fps.count()
        cap: dict = {}
        pairs = D.hamming_band_pairs(fps, max_hamming=mh, n_blocks=nb,
                                     cap_report=cap,
                                     hot_policy=plan.get("hot_policy",
                                                         "drop"))
        kept = D.dedup_by_components(media, pairs, id_col="media_id")
        self.progress("media_dedup", {"params": dict(plan),
                                      "decodable": n_decodable,
                                      "cap": cap})
        n_kept = self._publish(kept, output_path).count()  # read-back
        snap = output_path + "_snapshot"
        # represent mode: over-cap buckets keep their min-id member so
        # the PERSISTED snapshot stays probe-able under duplicate
        # floods (a later flood copy flags against the representative
        # instead of silently missing) while staying |corpus|-bounded
        D.save_hamming_snapshot(
            D.hamming_band_keys(fps, max_hamming=mh, n_blocks=nb,
                                cap_mode="represent"),
            snap, max_hamming=mh, n_blocks=nb)
        fps.unpersist()
        return [kept], {"rows_in": n_in, dec_key: n_decodable,
                        "rows_kept": n_kept, "cap_telemetry": cap,
                        "snapshot_path_out": snap}, n_kept

    def _run_media_probe(self, plan: dict, source_dir: str,
                         output_path: str) -> Handled:
        """'flag the new images|audio against the snapshot at /path':
        the batch half of the media lifecycle — fingerprint the source
        dir's media table and probe the persisted hamming snapshot
        (``dedup.incremental_hamming_pairs``: band the batch with the
        snapshot's OWN geometry from its meta sidecar, broadcast-prune
        the snapshot to the batch's probe keys, equi-join, verify
        exact hamming). Cost scales with the batch, never the corpus.
        Flag pairs ``(id_new, id_seen, hamming)`` land at the sink;
        the report carries batch/decodable/flagged counts plus the
        geometry actually used. '... and update the snapshot'
        additionally APPENDS the batch's fresh fingerprints to the
        store (epoch grow at batch cost — the image twin of the
        Bloom add_keys / ANN-index append steps)."""
        modality = plan.get("modality", "image")
        fingerprint = {"image": M.image_dhash, "audio": M.audio_ahash,
                       "video": M.video_vhash}[modality]
        noun = {"image": "images", "audio": "clips",
                "video": "videos"}[modality]
        with _rejecting(f"no loadable hamming snapshot at "
                        f"{plan['snapshot_path']}"):
            banded, geom = D.load_hamming_snapshot(
                self.spark, plan["snapshot_path"])
        media = self._media(source_dir)
        n_in = media.count()
        fps = fingerprint(media).persist()
        n_decodable = fps.count()
        pairs = D.incremental_hamming_pairs(fps, banded, **geom)
        self.progress("media_probe", {"params": dict(plan),
                                      "decodable": n_decodable,
                                      "geometry": geom})
        back = self._publish(pairs, output_path)
        n_pairs = back.count()
        n_flagged = back.select("id_new").distinct().count()
        report = {"batch_rows": n_in,
                  f"{noun}_decodable": n_decodable,
                  "flag_pairs": n_pairs,
                  f"{noun}_flagged": n_flagged,
                  "geometry": geom}
        if plan.get("update"):
            # epoch grow: append the batch's FRESH fingerprints (not
            # flagged against the store, then within-batch-deduped so
            # two new copies enter once) as band rows in the store's
            # own geometry. Parquet append only adds files through the
            # commit protocol — a failed job leaves the store intact —
            # and the new files get the same range-partitioned/sorted
            # layout so footer-stat pruning covers them too.
            n_before = banded.count()
            fresh = fps.join(back.select(F.col("id_new").alias("id"))
                             .distinct(), "id", "left_anti")
            drop = (D.min_label_components(
                        D.hamming_band_pairs(fresh, **geom))
                    .filter(F.col("id") != F.col("comp")).select("id"))
            keep = fresh.join(drop, "id", "left_anti")
            new_banded = D.hamming_band_keys(keep, **geom)
            (new_banded.repartitionByRange("band", "key")
             .sortWithinPartitions("band", "key")
             .write.mode("append").parquet(plan["snapshot_path"]))
            n_after = self.spark.read.parquet(
                plan["snapshot_path"]).count()
            n_appended = keep.count()
            self.progress("grow_snapshot",
                          {"appended": n_appended,
                           "rows_after": n_after})
            report.update({"snapshot_rows_before": n_before,
                           "snapshot_rows_after": n_after,
                           f"{noun}_appended": n_appended})
        fps.unpersist()
        return [pairs], report, n_pairs

    def _run_containment(self, plan: dict, source_dir: str,
                         output_path: str) -> Handled:
        """'find videos containing clips of each other' / 'audio
        containment': sub-clip matching over the media table —
        per-frame dHash rows (video) or onset-anchored window aHashes
        (audio) packed into 64-bit ids, paired through the shared
        Manku banding, rolled up per item pair on the per-side
        distinct-match count. Pairs land at the sink; the PACKED
        frame-hash band snapshot + geometry land at
        ``<output>_snapshot`` (represent mode — flood-proof), so
        later batches probe for CONTAINED known content at batch cost
        via the containment_probe target. Cap telemetry rides the
        report."""
        modality = plan.get("modality", "video")
        hashes_fn = (M.video_frame_hashes if modality == "video"
                     else M.audio_window_hashes)
        shared_col = ("shared_frames" if modality == "video"
                      else "shared_windows")
        media = self._media(source_dir)
        n_in = _rows(media, "media")
        mh, nb = plan["max_hamming"], plan["n_blocks"]
        # hash ONCE (the payload decode dominates) and share the frame
        # between the pair rollup and the persisted snapshot
        fh = hashes_fn(media)
        idx_col = fh.columns[1]
        fh = fh.withColumnRenamed(idx_col, "idx").persist()
        n_rows = fh.count()
        n_decodable = fh.select("id").distinct().count()
        cap: dict = {}
        pairs = M._containment_rollup(
            fh, plan["min_shared"], shared_col, max_hamming=mh,
            n_blocks=nb, cap_report=cap,
            hot_policy=plan.get("hot_policy", "drop"))
        self.progress("containment", {"params": dict(plan),
                                      "decodable": n_decodable,
                                      "cap": cap})
        n_pairs = self._publish(pairs, output_path).count()
        snap = output_path + "_snapshot"
        packed = fh.select(
            (F.col("id") * 4096 + F.col("idx")).alias("id"), "sim")
        D.save_hamming_snapshot(
            D.hamming_band_keys(packed, max_hamming=mh, n_blocks=nb,
                                cap_mode="represent"),
            snap, max_hamming=mh, n_blocks=nb)
        fh.unpersist()
        return [pairs], {"rows_in": n_in,
                         "items_decodable": n_decodable,
                         "subitem_rows": n_rows,
                         "containment_pairs": n_pairs,
                         "cap_telemetry": cap,
                         "snapshot_path_out": snap}, n_pairs

    def _run_containment_probe(self, plan: dict, source_dir: str,
                               output_path: str) -> Handled:
        """'flag the new videos sharing frames with the snapshot at
        /p': the batch half of the containment lifecycle — hash the
        batch's sub-items, probe the persisted PACKED band snapshot
        (broadcast-pruned, batch cost) and roll matches up per item
        pair (``multimodal.incremental_containment_pairs``). '... and
        update the snapshot' appends the batch's fresh packed hashes
        — items NOT flagged against the store and not contained
        within the batch — the epoch-grow step."""
        modality = plan.get("modality", "video")
        hashes_fn = (M.video_frame_hashes if modality == "video"
                     else M.audio_window_hashes)
        shared_col = ("shared_frames" if modality == "video"
                      else "shared_windows")
        noun = "videos" if modality == "video" else "clips"
        with _rejecting(f"no loadable hamming snapshot at "
                        f"{plan['snapshot_path']}"):
            banded, geom = D.load_hamming_snapshot(
                self.spark, plan["snapshot_path"])
        media = self._media(source_dir)
        n_in = media.count()
        fh = hashes_fn(media)
        fh = fh.withColumnRenamed(fh.columns[1], "idx").persist()
        n_decodable = fh.select("id").distinct().count()
        pairs = M.incremental_containment_pairs(
            fh, banded, min_shared=plan["min_shared"],
            shared_col=shared_col, **geom)
        self.progress("containment_probe",
                      {"params": dict(plan),
                       "decodable": n_decodable, "geometry": geom})
        back = self._publish(pairs, output_path)
        n_pairs = back.count()
        n_flagged = back.select("id_new").distinct().count()
        report = {"batch_rows": n_in,
                  f"{noun}_decodable": n_decodable,
                  "containment_pairs": n_pairs,
                  f"{noun}_flagged": n_flagged,
                  "geometry": geom}
        if plan.get("update"):
            # epoch grow: append packed hashes of items neither
            # flagged against the store nor contained within the
            # batch, banded in the store's own geometry with the
            # same range-partitioned layout
            n_before = banded.count()
            fresh = fh.join(back.select(F.col("id_new").alias("id"))
                            .distinct(), "id", "left_anti")
            within = M._containment_rollup(
                fresh, plan["min_shared"], shared_col,
                max_hamming=geom["max_hamming"],
                n_blocks=geom["n_blocks"])
            keep = fresh.join(within.select(F.col("id_b").alias("id"))
                              .distinct(), "id", "left_anti")
            packed = keep.select(
                (F.col("id") * 4096 + F.col("idx")).alias("id"), "sim")
            new_banded = D.hamming_band_keys(packed, **geom,
                                             cap_mode="represent")
            (new_banded.repartitionByRange("band", "key")
             .sortWithinPartitions("band", "key")
             .write.mode("append").parquet(plan["snapshot_path"]))
            n_after = self.spark.read.parquet(
                plan["snapshot_path"]).count()
            n_appended = keep.select("id").distinct().count()
            report.update({"snapshot_rows_before": n_before,
                           "snapshot_rows_after": n_after,
                           f"{noun}_appended": n_appended})
        fh.unpersist()
        return [pairs], report, n_pairs

    def _run_band_snapshot(self, plan: dict, source_dir: str,
                           output_path: str) -> Handled:
        """'build a near-dup band snapshot of the corpus': persist the
        MinHash band table of the documents table at the sink — the
        build face of the neardup_probe target (the text twin of the
        media_dedup snapshot save). The layout is range-partitioned on
        (band, slice-hash) semantics via ``compact_store``'s
        discipline: we range-partition + sort on (band) and rely on
        the probe's broadcast semi-join for pruning (slices are
        arrays — parquet min/max stats don't apply to them, which is
        why the probe path prunes by semi-join, not footer stats)."""
        docs = Catalog(self.spark, source_dir).documents
        n_in = _rows(docs, "documents")
        # 'at similarity 0.8' derives the banding geometry from the
        # advisor's S-curve fit instead of the default 16x4; later
        # probes infer the geometry from the snapshot's own rows
        # (band_table_geometry), so no sidecar is needed
        geo_kw, band_plan = {}, None
        if plan.get("threshold"):
            band_plan = D.minhash_band_plan(plan["threshold"])
            geo_kw = {"n_hashes": band_plan["n_hashes"],
                      "bands": band_plan["bands"]}
        # represent mode: a boilerplate flood stores one row per band
        # (flood-proof snapshot — probes/streams still collide with
        # the representative, fan-out stays cap-bounded)
        bands = D.minhash_band_keys(docs, max_bucket=2000,
                                    cap_mode="represent", **geo_kw)
        n_rows = self._publish(bands.repartitionByRange("band", "id")
                               .sortWithinPartitions("band", "id"),
                               output_path).count()
        report = {"docs_in": n_in, "band_rows": n_rows}
        if band_plan is not None:
            report["band_plan"] = band_plan
        return [bands], report, n_rows

    def _run_neardup_probe(self, plan: dict, source_dir: str,
                           output_path: str) -> Handled:
        """'flag near-duplicate documents against the band snapshot at
        /path': the TEXT near-dup face of the media probes — band the
        source dir's documents with the MinHash LSH parameters and
        probe the persisted band table
        (``dedup.incremental_neardup_pairs``: broadcast-prune the
        snapshot to the batch's probe keys, equi-join — batch cost,
        never corpus). Flag pairs ``(id_new, id_seen)`` land at the
        sink; hot-bucket cap telemetry rides the report and
        'recovering hot buckets' opts into the star policy (a batch
        doc probing an over-cap flood bucket flags against the
        bucket's min-id representative instead of sailing through).
        '... and update the snapshot' appends the batch's fresh
        (unflagged, within-batch-deduped) band keys — the text twin
        of the media epoch-grow step."""
        with _rejecting(f"no loadable band snapshot at "
                        f"{plan['snapshot_path']}"):
            bands = self.spark.read.parquet(plan["snapshot_path"])
            if not {"id", "band", "slice"} <= set(bands.columns):
                raise ValueError(
                    f"not a band table (columns {bands.columns})")
        batch = Catalog(self.spark, source_dir).documents
        n_in = batch.count()
        cap: dict = {}
        # band the batch with the SNAPSHOT's own geometry (inferred
        # from its rows) — a threshold-tuned snapshot probes
        # correctly, and a mismatched banding would silently collide
        # with nothing
        n_bands, n_hashes = D.band_table_geometry(bands)
        pairs = D.incremental_neardup_pairs(
            batch, bands, n_hashes=n_hashes, bands=n_bands,
            cap_report=cap,
            hot_policy=plan.get("hot_policy", "drop"))
        self.progress("neardup_probe", {"params": dict(plan),
                                        "cap": cap})
        back = self._publish(pairs, output_path)
        n_pairs = back.count()
        n_flagged = back.select("id_new").distinct().count()
        report = {"batch_rows": n_in, "flag_pairs": n_pairs,
                  "docs_flagged": n_flagged, "cap_telemetry": cap}
        if plan.get("update"):
            n_before = bands.count()
            fresh = (D.dedup_exact(batch)
                     .join(back.select(F.col("id_new").alias("doc_id"))
                           .distinct(), "doc_id", "left_anti"))
            # append with the snapshot's geometry, not the default —
            # a tuned store must grow homogeneous
            new_bands = D.minhash_band_keys(fresh, n_hashes=n_hashes,
                                            bands=n_bands)
            new_bands.write.mode("append").parquet(
                plan["snapshot_path"])
            n_after = self.spark.read.parquet(
                plan["snapshot_path"]).count()
            n_appended = fresh.count()
            self.progress("grow_snapshot", {"appended": n_appended,
                                            "rows_after": n_after})
            report.update({"snapshot_rows_before": n_before,
                           "snapshot_rows_after": n_after,
                           "docs_appended": n_appended})
        return [pairs], report, n_pairs

    def _run_ingest_crawl(self, plan: dict, source_dir: str,
                          output_path: str) -> Handled:
        """'extract text from the crawl at /path': WARC file(s) ->
        one row per 200-OK textual response, with the rendered line
        structure from html_to_lines as ``text``. ``doc_id`` is the
        64-bit hash of the WARC record id (stable across re-runs and
        re-partitionings); url/fetched_at/content_type ride along for
        URL curation and snapshotting, and the documents-table
        columns are all present — ``lang`` (stopword heuristic;
        retrain with `train_lang_ngrams` for production) and
        ``source`` (the registered domain) — so pointing a follow-up
        dataops query's source_dir at the output directory chains
        crawl -> curate -> select -> pack -> shard end to end (write
        to ``<dir>/documents.parquet``)."""
        recs = warc.read_warc(self.spark, plan["crawl_path"])
        frame = (recs.filter((F.col("warc_type") == "response")
                             & (F.col("http_status") == 200)
                             & F.col("text").isNotNull())
                 .select(F.xxhash64("record_id").alias("doc_id"),
                         F.col("target_uri").alias("url"),
                         F.col("warc_date").alias("fetched_at"),
                         F.col("http_content_type").alias("content_type"),
                         F.when(F.col("http_content_type")
                                .contains("html"),
                                T.html_to_lines(F.col("text")))
                         .otherwise(F.col("text")).alias("text"))
                 .withColumn("n_chars", F.length("text"))
                 .withColumn("lang", T.lang_id(F.col("text")))
                 .withColumn("source",
                             WB.registered_domain(WB.url_host(F.col("url")))))
        self.progress("ingest", {"params": dict(plan)})
        n = self._publish(frame, output_path).count()  # read-back
        return [frame], {"rows": n}, n

    def _run_ingest_archives(self, plan: dict, source_dir: str,
                             output_path: str) -> Handled:
        """'extract text from the zip at /path' / 'ingest the tarball
        at /path': archives explode into one row per text-bearing
        member (txt/html/pdf/json tiers applied per kind by the
        kernel — html members render through html_to_lines like the
        crawl door), documents-shaped at the sink. Binary members and
        size/count-capped skips are counted in the report, never
        silently dropped. ``doc_id`` hashes archive#member (stable
        across re-runs); ``source`` is the archive file name, so a
        multi-archive corpus keeps its provenance through curation."""
        rows = archives.read_archives(self.spark, plan["archive_path"])
        summaries = rows.filter(F.col("kind") == "__archive__")
        stats = summaries.agg(
            F.count(F.lit(1)).alias("archives"),
            F.coalesce(F.sum("n_bytes"), F.lit(0)).alias("members"),
            F.coalesce(F.sum("skipped"), F.lit(0)).alias("skipped")
        ).first()
        frame = (rows.filter((F.col("kind") != "__archive__")
                             & F.col("text").isNotNull())
                 .select(
                     F.xxhash64(F.concat_ws("#", "archive", "member"))
                     .alias("doc_id"),
                     F.concat_ws("#", "archive", "member").alias("url"),
                     F.col("kind"),
                     F.element_at(F.split(F.col("archive"), "/"), -1)
                     .alias("source"),
                     F.when(F.col("kind") == "html",
                            T.html_to_lines(F.col("text")))
                     .otherwise(F.col("text")).alias("text"))
                 .withColumn("n_chars", F.length("text"))
                 .withColumn("lang", T.lang_id(F.col("text"))))
        self.progress("ingest", {"params": dict(plan)})
        n = self._publish(frame, output_path).count()  # read-back
        return [frame], {"archives_seen": stats["archives"],
                         "members_seen": int(stats["members"]),
                         "members_skipped": int(stats["skipped"]),
                         "rows_written": n}, n

    def _run_ingest_pdfs(self, plan: dict, source_dir: str,
                         output_path: str) -> Handled:
        """'extract text from the pdfs at /path': PDF file(s) -> one
        row per file with extractable text (files with no text tier —
        encrypted, image-only, unsupported codecs — are counted in
        the report, not silently dropped into the corpus as empties).
        ``doc_id`` is the 64-bit hash of the file path (stable across
        re-runs); the documents-table columns are all present (lang
        via the stopword heuristic, source = the file's directory
        name) so a follow-up dataops query chains pdfs -> curate ->
        select -> pack -> shard exactly like the crawl front door."""
        rows = pdf.read_pdfs(self.spark, plan["pdf_path"])
        n_total = rows.count()
        frame = (rows.filter(F.col("text").isNotNull())
                 .select(F.xxhash64("path").alias("doc_id"),
                         F.col("path").alias("url"),
                         F.col("n_pages"),
                         F.col("text"))
                 .withColumn("n_chars", F.length("text"))
                 .withColumn("lang", T.lang_id(F.col("text")))
                 .withColumn("source", F.element_at(
                     F.split(F.col("url"), "/"), -2)))
        self.progress("ingest", {"params": dict(plan)})
        n = self._publish(frame, output_path).count()  # read-back
        return [frame], {"files_seen": n_total, "rows_written": n,
                         "files_without_text": n_total - n}, n

    def _run_corpus_diff(self, plan: dict, source_dir: str,
                         output_path: str) -> Handled:
        """'diff ... against the snapshot at <path>': the CURRENT
        corpus (source_dir's documents table) vs a prior snapshot
        parquet of the same (doc_id, text) shape -> (doc_id, status)
        written to the sink plus a per-status count report. The diff
        itself is :func:`operators.dedup.corpus_diff` — only ids and
        32-bit content keys enter the shuffle."""
        old = self.spark.read.parquet(plan["snapshot_path"])
        new = Catalog(self.spark, source_dir).documents
        frame = D.corpus_diff(old, new)
        self.progress("diff", {"params": dict(plan)})
        counts = {r["status"]: r["n"] for r in
                  self._publish(frame, output_path)  # read-back verify
                  .groupBy("status").agg(F.count(F.lit(1)).alias("n"))
                  .collect()}
        return [frame], {"diff_counts": counts}, sum(counts.values())

    def _run_chunk_documents(self, plan: dict, source_dir: str,
                             output_path: str) -> Handled:
        """'chunk for RAG, size N stride M': scan-only overlapping
        chunking of the documents table -> (id, chunk_idx, chunk_text,
        n_tokens) parquet (:func:`operators.text.chunk_documents` —
        no shuffle; the 1->N expansion happens inside the write
        scan)."""
        docs = Catalog(self.spark, source_dir).documents
        frame = T.chunk_documents(docs, size=plan["size"],
                                  stride=plan["stride"])
        self.progress("chunk", {"params": dict(plan)})
        n = self._publish(frame, output_path).count()  # read-back
        return [frame], {"rows_written": n}, n

    def _run_classifier_train(self, plan: dict, source_dir: str,
                              output_path: str) -> Handled:
        """'train a quality classifier on the corpus and save it':
        gopher weak labels -> hashed-ngram logistic pipeline
        (Q7, ``operators/quality.py``), persisted with Spark ML's
        native writer at the output — the train-on-sample /
        score-everywhere artifact. The report carries the label
        balance and the model's training accuracy on its own weak
        labels (a sanity floor, not an eval)."""
        docs = Catalog(self.spark, source_dir).documents
        labeled = Q.weak_labels_from_gopher(docs)
        pos = labeled.agg(F.avg("label").alias("p")).first()["p"]
        if pos is None or pos in (0.0, 1.0):
            raise Rejected(f"weak labels are degenerate "
                           f"(positive rate {pos}) — a one-class "
                           f"corpus cannot train a classifier")
        self.progress("train_classifier", {"params": dict(plan),
                                           "positive_rate":
                                               round(pos, 4)})
        model = Q.train_quality_classifier(labeled)
        model.write().overwrite().save(output_path)
        scored = Q.score_quality(labeled, model).join(
            labeled.select(F.col("doc_id").alias("id"), "label"), "id")
        acc = scored.agg(F.avg(
            (((F.col("quality_prob") >= 0.5).cast("double"))
             == F.col("label")).cast("double")).alias("a")) \
            .first()["a"]
        return [], {"positive_rate": round(pos, 4),
                    "train_accuracy": round(acc, 4),
                    "model_path": output_path}, {"path": output_path}

    def _run_classifier_score(self, plan: dict, source_dir: str,
                              output_path: str) -> Handled:
        """'score the corpus with the classifier at /path': reload
        the persisted Q7 model (Spark ML native loader) and write
        (id, quality_prob) per document — one scan, the
        score-everywhere half of the lifecycle. Rejects a missing or
        unloadable model path."""
        with _rejecting(f"no classifier loadable at "
                        f"{plan['model_path']}"):
            model = Q.load_quality_classifier(plan["model_path"])
        docs = Catalog(self.spark, source_dir).documents
        scores = Q.score_quality(docs, model)
        self.progress("score", {"params": dict(plan)})
        agg = self._publish(scores, output_path).agg(   # read-back
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("quality_prob"), 4).alias("mean")).first()
        return [scores], {"rows": agg["n"],
                          "mean_quality_prob": agg["mean"]}, agg["n"]

    def _load_tokenizer_store(self, path: str):
        """Load a persisted tokenizer store, inferring its kind from
        its own columns (the tokenize_pack convention). Returns
        ``(kind, kw)`` where kw feeds straight into
        :func:`operators.bpe.tokenizer_stats`; an unreadable or
        unrecognized store rejects."""
        with _rejecting(f"no tokenizer readable at {path}"):
            store = self.spark.read.parquet(path)
            cols = set(store.columns)
            if {"rank", "a", "b"} <= cols:
                return "bpe", {"merges": [(r["a"], r["b"]) for r in
                                          store.orderBy("rank").collect()]}
            if {"piece", "logprob"} <= cols:
                return "unigram", {"pieces": [(r["piece"], r["logprob"])
                                              for r in
                                              store.orderBy("rank")
                                              .collect()]}
            raise ValueError(
                f"columns {sorted(cols)} are neither a BPE (rank,a,b) "
                f"nor a unigram (rank,piece,logprob) store")

    def _run_tokenizer_stats(self, plan: dict, source_dir: str,
                             output_path: str) -> Handled:
        """'report tokenizer stats with the tokenizer at /path': the
        artifact-validation telemetry — per-language fertility
        (subword tokens per word; a language far above the corpus
        average is being shredded into characters and will train
        poorly at the same sequence budget) and chars-per-token
        compression over the source dir's documents, from the
        persisted tokenizer store (kind inferred from its own
        columns, the tokenize_pack convention). The per-language
        table lands at the sink; the report inlines it (strata-
        bounded) plus the corpus-wide roll-up. One count-only Arrow
        pass + one strata-bounded aggregate."""
        kind, kw = self._load_tokenizer_store(plan["tokenizer_path"])
        docs = Catalog(self.spark, source_dir).documents
        # a source whose documents table carries no lang column still
        # gets the corpus-wide telemetry (the 'all' stratum) instead
        # of an uncaught AnalysisException
        lang_col = "lang" if "lang" in docs.columns else None
        per_lang = BPE.tokenizer_stats(docs, lang_col=lang_col, **kw)
        self.progress("tokenizer_stats", {"params": dict(plan),
                                          "kind": kind})
        back = self._publish(per_lang, output_path)    # read-back
        rows = sorted((r.asDict() for r in back.collect()),
                      key=lambda r: r["lang"])
        tot_toks = sum(r["n_tokens"] for r in rows)
        tot_words = sum(r["n_words"] for r in rows)
        overall = {"n_docs": sum(r["n_docs"] for r in rows),
                   "fertility": round(tot_toks / tot_words, 4)
                   if tot_words else None}
        return [per_lang], {"kind": kind, "per_lang": rows,
                            "overall": overall}, len(rows)

    def _run_tokenizer_train(self, plan: dict, source_dir: str,
                             output_path: str) -> Handled:
        """'train a bpe tokenizer on the corpus, 300 merges, and save
        it' / 'train a unigram tokenizer, vocab 500': the tokenizer
        is THE canonical train-once artifact — every downstream token
        id depends on it, so production trains once and reuses across
        epochs and corpora. The merge/piece table persists at the
        output (``bpe.save_bpe`` / ``unigram.save_unigram``); a later
        'tokenize the corpus with the tokenizer at /path and pack
        ...' loads it instead of retraining (bit-identical encoding,
        pinned in tests)."""
        docs = Catalog(self.spark, source_dir).documents
        self.progress("train_tokenizer", {"params": dict(plan)})
        if plan["model"] == "unigram":
            pieces = U.train_unigram(docs,
                                     vocab_size=max(plan["n_merges"],
                                                    64))
            report = U.save_unigram(self.spark, pieces, output_path)
        else:
            merges = BPE.train_bpe(docs, n_merges=plan["n_merges"])
            report = BPE.save_bpe(self.spark, merges, output_path)
        return [], {**report, "tokenizer_path": output_path}, \
            {"path": output_path, **report}

    def _run_tokenize_pack(self, plan: dict, source_dir: str,
                           output_path: str) -> Handled:
        """'tokenize the corpus and pack 512-token sequences': train a
        BPE merge table on the corpus, encode straight to ids
        (``bpe.encode_ids``), concatenate-and-split into fixed-length
        ``input_ids`` rows (``packing.pack_sequences``) and land the
        trainer-ready parquet. 'with a unigram model' /
        'sentencepiece' swaps in the unigram-LM tokenizer
        (``operators/unigram.py``, TK3 — 'N merges' then budgets the
        piece vocabulary) behind the identical packing/report
        surface. The merge/piece table + vocab size go into the
        report — the reusable artifacts a production run persists
        beside the shards."""
        docs = Catalog(self.spark, source_dir).documents
        if plan["n_buckets"] is None:
            # corpus-derived (see derive_n_buckets): the one packing
            # shuffle's task count is n_buckets — a fixed default
            # idles a big cluster. Derived value goes into plan/report
            # since bucket count is part of the deterministic output
            # identity.
            plan["n_buckets"] = derive_n_buckets(docs.count())
        loaded_bpe = loaded_pieces = None
        if plan.get("tokenizer_path"):
            # the train-once reuse face: load the persisted artifact,
            # kind inferred from its own columns — never retrain
            with _rejecting(f"no tokenizer readable at "
                            f"{plan['tokenizer_path']}"):
                cols = set(self.spark.read.parquet(
                    plan["tokenizer_path"]).columns)
            if {"rank", "a", "b"} <= cols:
                loaded_bpe = BPE.load_bpe(self.spark,
                                          plan["tokenizer_path"])
                plan["model"] = "bpe"
            elif {"rank", "piece", "logprob"} <= cols:
                loaded_pieces = U.load_unigram(self.spark,
                                               plan["tokenizer_path"])
                plan["model"] = "unigram"
            else:
                raise Rejected(f"parquet at {plan['tokenizer_path']} is "
                               f"not a tokenizer store (columns "
                               f"{sorted(cols)})")
        if plan.get("model") == "unigram":
            # TK3: the unigram-LM trainer behind the same target —
            # n_merges doubles as the piece-vocabulary budget
            pieces = (loaded_pieces if loaded_pieces is not None
                      else U.train_unigram(
                          docs, vocab_size=max(plan["n_merges"], 64)))
            vocab = U.unigram_vocab(pieces)
            merges = pieces          # report carries the piece table size
            self.progress("tokenize", {"params": dict(plan),
                                       "vocab_size": len(vocab)})
            tok = U.apply_unigram(docs, pieces, ids=True)
        else:
            merges = (loaded_bpe if loaded_bpe is not None
                      else BPE.train_bpe(docs, n_merges=plan["n_merges"]))
            vocab = BPE.bpe_vocab(merges)
            self.progress("tokenize", {"params": dict(plan),
                                       "vocab_size": len(vocab)})
            tok = BPE.encode_ids(docs, merges)
        # eos: the id just past the vocab is the reserved per-document
        # separator (trainers size the embedding at vocab_size + 1)
        eos_id = len(vocab) if plan.get("eos") else None
        frame = PK.pack_sequences(tok, plan["seq_len"],
                                  n_buckets=plan["n_buckets"],
                                  eos_id=eos_id)
        n_seq = self._publish(frame, output_path).count()  # read-back
        return [frame], {"vocab_size": len(vocab), "eos_id": eos_id,
                         "n_merges": len(merges),
                         "n_sequences": n_seq,
                         "tokens_packed": n_seq * plan["seq_len"]}, n_seq

    def _run_corpus_census(self, plan: dict, source_dir: str,
                           output_path: str) -> Handled:
        """'census the corpus' / 'report corpus statistics': the
        mergeable per-stratum census (:func:`operators.text.
        corpus_census`) over the documents table — the standalone
        face of the snapshot-store telemetry `_run_incremental_dedup`
        maintains per epoch. The report inlines the per-language doc
        counts (tiny) so a CLI/HTTP caller sees the headline numbers
        without reading the parquet. A 'histogram'/'distribution'
        mention additionally writes the power-of-two token-length
        histogram (:func:`operators.text.census_histogram` — same
        mergeable-sums contract) to ``<output>_hist`` and inlines the
        per-bucket doc counts."""
        docs = Catalog(self.spark, source_dir).documents
        frame = T.corpus_census(docs)
        self.progress("census", {"params": dict(plan)})
        back = self._publish(frame, output_path)      # read-back
        langs = {r["stratum"]: r["n_docs"] for r in
                 back.filter(F.col("kind") == "lang").collect()}
        total = back.filter(F.col("kind") == "__total__").first()
        if total is None:
            # an empty corpus yields zero GROUPING SETS rows — reject
            # with a reason instead of a NoneType subscript crash
            # (matches the sibling targets' empty-corpus contract)
            raise Rejected("documents table is empty")
        report = {"n_docs": total["n_docs"],
                  "n_tokens": total["n_tokens"],
                  "n_chars": total["n_chars"],
                  "docs_per_lang": langs}
        outputs = [frame]
        if plan.get("histogram"):
            hist = T.census_histogram(docs)
            hist.write.mode("overwrite").parquet(output_path + "_hist")
            hb = self.spark.read.parquet(output_path + "_hist")
            report["docs_per_length_bucket"] = {
                int(r["bucket"]): r["n_docs"] for r in
                hb.filter(F.col("kind") == "__total__").collect()}
            report["histogram_path"] = output_path + "_hist"
            report["length_quantiles_per_lang"] = T.histogram_quantiles(
                hb, quantiles=(0.5, 0.9, 0.99), kind="lang")
            outputs.append(hist)
        if plan.get("distinct"):
            # HLL distinct-fingerprint census: n_docs vs distinct
            # CONTENT per stratum = the dup-rate telemetry exact sums
            # can't maintain incrementally (values repeat across
            # batches); sketches land beside the census so the next
            # epoch folds instead of re-scanning
            fp = docs.withColumn(
                "fp", D.hash32(D.normalize_text(
                    F.coalesce(F.col("text"), F.lit("")))))
            dcen = T.census_distinct(fp, "fp")
            dcen.write.mode("overwrite").parquet(output_path + "_distinct")
            db = self.spark.read.parquet(output_path + "_distinct")
            ests = {(r["kind"], r["stratum"]): (r["n_distinct"], r["n_rows"])
                    for r in T.estimate_distinct(db).collect()}
            report["distinct_docs_per_lang"] = {
                s: round(v[0], 1) for (k, s), v in ests.items()
                if k == "lang"}
            tot = ests[("__total__", "__total__")]
            report["distinct_docs_total"] = round(tot[0], 1)
            report["approx_dup_rate"] = round(
                1.0 - min(1.0, tot[0] / tot[1]), 4) if tot[1] else 0.0
            report["distinct_path"] = output_path + "_distinct"
            outputs.append(dcen)
        return outputs, report, back.count()

    def _run_semantic_dedup(self, plan: dict, source_dir: str,
                            output_path: str) -> Handled:
        """'semantically dedup ...': SemDeDup over the embeddings
        table (:func:`operators.similarity.semantic_dedup`) — kept
        rows written to the sink with an in/out count report.

        When the query names no cluster count, ``n_clusters`` is
        derived from the corpus (one cheap count) via
        :func:`derive_n_clusters` — the within-cluster pair join is
        quadratic in cluster size, so the count MUST grow with the
        corpus to keep per-cluster size (and so total pair work)
        bounded; the chosen value lands in the progress report and
        the plan echo."""
        emb = Catalog(self.spark, source_dir).embeddings
        # k-means cannot fit zero rows — an empty corpus is an
        # actionable rejection, not an opaque executor stacktrace
        n_in = _rows(emb, "embeddings")
        if not plan.get("n_clusters"):
            plan["n_clusters"] = derive_n_clusters(n_in)
        frame = S.semantic_dedup(emb, threshold=plan["threshold"],
                                 n_clusters=plan["n_clusters"],
                                 keep=plan["keep"])
        self.progress("dedup", {"params": dict(plan),
                                "n_clusters": plan["n_clusters"]})
        n_out = self._publish(frame, output_path).count()  # read-back
        return [frame], {"rows_in": n_in, "rows_kept": n_out}, n_out

    def _run_cluster_corpus(self, plan: dict, source_dir: str,
                            output_path: str) -> Handled:
        """'cluster the embeddings into 12 topics': standalone corpus
        clustering (:func:`operators.similarity.cluster_embeddings`)
        — per-vector assignments + coherence land at the sink, the
        tiny centers frame at ``<output>_centers`` (reusable to map
        future batches without refitting), and the report inlines
        per-cluster sizes + mean center-cosine. An unnamed cluster
        count derives from the corpus via :func:`derive_n_clusters`
        (constant target cluster SIZE, same reasoning as SemDeDup)."""
        emb = Catalog(self.spark, source_dir).embeddings
        # k-means cannot fit zero rows — an empty corpus is an
        # actionable rejection, not an opaque executor stacktrace
        n_in = _rows(emb, "embeddings")
        if not plan.get("n_clusters"):
            plan["n_clusters"] = derive_n_clusters(n_in)
        assign, centers = S.cluster_embeddings(
            emb, n_clusters=plan["n_clusters"])
        self.progress("cluster", {"params": dict(plan),
                                  "n_clusters": plan["n_clusters"]})
        back = self._publish(assign, output_path)      # read-back
        centers.write.mode("overwrite").parquet(output_path + "_centers")
        stats = (back.groupBy("cluster")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.round(F.avg("center_cos"), 4).alias("coherence"))
                 .collect())
        return [assign, centers], {
            "rows_in": n_in,
            "centers_path": output_path + "_centers",
            "cluster_sizes": {int(r["cluster"]): r["n"] for r in stats},
            "cluster_coherence": {int(r["cluster"]): r["coherence"]
                                  for r in stats}}, back.count()

    def _run_cluster_assign(self, plan: dict, source_dir: str,
                            output_path: str) -> Handled:
        """'assign the new embeddings to the clusters at <path>': map
        a fresh batch onto a persisted cluster map
        (:func:`operators.similarity.assign_to_centers` — broadcast
        GEMM argmin, no refit, no rescan of the fit corpus; the
        data-map twin of the frozen-index append). Rejected with an
        actionable reason when the path is missing or unreadable."""
        with _rejecting(f"no cluster map readable at "
                        f"{plan['centers_path']}", cause=False):
            centers = self.spark.read.parquet(plan["centers_path"])
            # explicit raise, not assert: -O strips asserts and a
            # malformed store must reject, not crash downstream
            if not {"cluster", "center"} <= set(centers.columns):
                raise ValueError("not a cluster map")
        emb = Catalog(self.spark, source_dir).embeddings
        n_in = _rows(emb, "embeddings")
        assign = S.assign_to_centers(emb, centers)
        self.progress("assign", {"params": dict(plan),
                                 "n_centers": centers.count()})
        back = self._publish(assign, output_path)      # read-back
        stats = (back.groupBy("cluster")
                 .agg(F.count(F.lit(1)).alias("n")).collect())
        return [assign], {"rows_in": n_in,
                          "cluster_sizes": {int(r["cluster"]): r["n"]
                                            for r in stats}}, back.count()

    def _run_verify_shards(self, plan: dict, source_dir: str,
                           output_path: str) -> Handled:
        """'verify the shards at /path against the manifest': the
        receiving side of a data shipment — recompute the
        order-insensitive per-shard fingerprints over the shard set
        and diff them against the stored manifest
        (:func:`sources.sinks.verify_shard_manifest`; defaults to the
        writer's ``<shards>_manifest`` sidecar). Rejected with an
        actionable reason when no shard path is named; the verdict +
        mismatched shard ids land in the report AND at the sink as a
        one-row-per-shard status frame."""
        mpath = plan.get("manifest_path") or \
            plan["shards_path"].rstrip("/") + "_manifest"
        with _rejecting(f"no manifest readable at {mpath}", cause=False):
            manifest = self.spark.read.parquet(mpath)
        self.progress("verify", {"params": dict(plan),
                                 "manifest_path": mpath})
        # a sha256 column marks a write_webdataset manifest — verify
        # the tar files byte-for-byte (distributed sha2 scan) instead
        # of recomputing parquet row fingerprints
        is_wds = "sha256" in manifest.columns
        with _rejecting(f"no shard set readable at "
                        f"{plan['shards_path']}", cause=False):
            verify = (sinks.verify_webdataset if is_wds
                      else sinks.verify_shard_manifest)
            chk = verify(self.spark, plan["shards_path"], manifest)
        bad = set(chk["mismatched"])
        # union so an EXTRA shard directory (present on disk, absent
        # from the manifest) still gets a status row
        col, cast, schema = (("file", str, "file string") if is_wds
                             else ("shard", int, "shard int"))
        shard_ids = {cast(r[col]) for r in manifest.collect()} | bad
        status_frame = self.spark.createDataFrame(
            [(s, "mismatch" if s in bad else "ok")
             for s in sorted(shard_ids)],
            f"{schema}, status string")
        self._publish(status_frame, output_path, read_back=False)
        return [status_frame], {"ok": chk["ok"],
                                "n_shards": chk["n_shards"],
                                "manifest_path": mpath,
                                "mismatched_shards": chk["mismatched"]}, \
            chk["n_shards"]

    def _run_data_card(self, plan: dict, source_dir: str,
                       output_path: str) -> Handled:
        """'generate a data card for the corpus': the
        Datasheets-for-Datasets capstone — one run composing the
        corpus's headline composition (census: docs/tokens/chars per
        language and source), length distribution (histogram
        quantiles per language), duplication (HLL distinct-content
        estimate + approx dup rate), and quality telemetry
        (gopher-pass rate, mean quality score, mean code-likeness,
        predicted-language agreement) into a nested report + a
        ``datacard.json`` artifact beside the sink parquet (the
        census lands AT the sink as the card's machine-readable
        companion). Four one-scan aggregations total, every
        driver-side object bounded by |strata| — never by corpus
        size."""
        docs = Catalog(self.spark, source_dir).documents
        census = T.corpus_census(docs)
        back = self._publish(census, output_path)      # read-back
        total = back.filter(F.col("kind") == "__total__").first()
        if total is None or total["n_docs"] == 0:
            raise Rejected("documents table is empty")
        self.progress("census", {"params": dict(plan)})
        comp = {
            "n_docs": total["n_docs"], "n_tokens": total["n_tokens"],
            "n_chars": total["n_chars"],
            "docs_per_lang": {r["stratum"]: r["n_docs"] for r in
                              back.filter(F.col("kind") == "lang")
                              .collect()},
            "docs_per_source": {r["stratum"]: r["n_docs"] for r in
                                back.filter(F.col("kind") == "source")
                                .collect()},
        }
        hist = T.census_histogram(docs)
        hist.write.mode("overwrite").parquet(output_path + "_hist")
        hist = self.spark.read.parquet(output_path + "_hist")
        # quantiles read the persisted sidecar — the card's consumer
        # gets the full distribution, not just three cut points
        lengths = T.histogram_quantiles(hist, quantiles=(0.5, 0.9, 0.99),
                                        kind="lang")
        self.progress("lengths", {"langs": len(lengths)})
        fp = docs.withColumn(
            "fp", D.hash32(D.normalize_text(
                F.coalesce(F.col("text"), F.lit("")))))
        dist = T.estimate_distinct(T.census_distinct(fp, "fp")) \
            .filter(F.col("kind") == "__total__").first()
        dup = {"distinct_docs_estimate": round(dist["n_distinct"], 1),
               "approx_dup_rate": round(
                   1.0 - min(1.0, dist["n_distinct"] / dist["n_rows"]),
                   4) if dist["n_rows"] else 0.0}
        q = T.quality_features(F.col("text"))
        g = T.gopher_rules(F.col("text"))
        c = T.code_features(F.col("text"))
        qrow = docs.agg(
            F.round(F.avg(q["quality_score"]), 4).alias("mean_quality"),
            F.round(F.avg(g["gopher_pass"].cast("double")), 4)
            .alias("gopher_pass_rate"),
            F.round(F.avg(c["code_score"]), 4).alias("mean_code_score"),
            F.round(F.avg((T.lang_id(F.col("text")) == F.col("lang"))
                          .cast("double")), 4)
            .alias("lang_id_agreement")).first()
        quality = {k: qrow[k] for k in
                   ("mean_quality", "gopher_pass_rate",
                    "mean_code_score", "lang_id_agreement")}
        self.progress("quality", quality)
        # governance: the datasheet's licensing section — per-class
        # doc counts from the T19 scan (one extra aggregate over the
        # same text column; |classes| <= 5 driver-side)
        licensing = {r["c"]: r["n"] for r in
                     docs.groupBy(T.license_class(F.col("text"))
                                  .alias("c"))
                     .agg(F.count(F.lit(1)).alias("n")).collect()}
        card = {"composition": comp,
                "length_quantiles_per_lang": lengths,
                "duplication": dup, "quality": quality,
                "licensing": licensing,
                "census_path": output_path,
                "histogram_path": output_path + "_hist"}
        # suggested mix (SM10): when the query names a token budget
        # ('... with a budget of 1000000 tokens, at most 2 epochs'),
        # the card carries the UniMax epoch-capped allocation derived
        # from the census's per-language token sums — pure driver
        # arithmetic over numbers this run already collected, zero
        # extra scans, and the datasheet becomes actionable: it says
        # not just what the corpus IS but how a budgeted training run
        # would draw from it.
        if plan.get("mix_budget") is not None:
            toks_per_lang = {
                r["stratum"]: r["n_tokens"]
                for r in back.filter((F.col("kind") == "lang")
                                     & (F.col("stratum") != "__null__"))
                .collect()}
            eps = SA.unimax_epochs(toks_per_lang, plan["mix_budget"],
                                   plan["mix_epochs"])
            card["suggested_mix"] = {
                "budget_tokens": plan["mix_budget"],
                "max_epochs": plan["mix_epochs"],
                "epochs_per_lang": {g: round(e, 4)
                                    for g, e in eps.items()},
                "allocated_tokens_per_lang": {
                    g: int(round(e * toks_per_lang[g]))
                    for g, e in eps.items()},
                "saturated_langs": sorted(
                    g for g, e in eps.items()
                    if e >= plan["mix_epochs"]),
            }
            self.progress("suggested_mix",
                          {"langs": len(eps),
                           "budget": plan["mix_budget"]})
        # tokenizer section (TK4): when the query names a tokenizer
        # store ('... with the tokenizer at /path'), per-language
        # fertility + chars-per-token join the datasheet — fertility
        # is exactly the per-language coverage number a training-data
        # card should carry (a language far above the corpus average
        # is being shredded into characters). Driver-side rows are
        # strata-bounded (|langs| + 1), the corpus cost is one
        # count-only Arrow pass. A NAMED-but-unreadable store rejects
        # (the user asked for a section the run cannot produce).
        if plan.get("tokenizer_path"):
            kind, kw = self._load_tokenizer_store(plan["tokenizer_path"])
            lang_col = "lang" if "lang" in docs.columns else None
            t_rows = sorted(
                (r.asDict() for r in
                 BPE.tokenizer_stats(docs, lang_col=lang_col,
                                     **kw).collect()),
                key=lambda r: r["lang"])
            t_toks = sum(r["n_tokens"] for r in t_rows)
            t_words = sum(r["n_words"] for r in t_rows)
            card["tokenizer"] = {
                "kind": kind, "path": plan["tokenizer_path"],
                "fertility_per_lang": {
                    r["lang"]: r["fertility"] for r in t_rows},
                "chars_per_token_per_lang": {
                    r["lang"]: r["chars_per_token"] for r in t_rows},
                "overall_fertility": round(t_toks / t_words, 4)
                if t_words else None,
                "n_tokens": t_toks}
            self.progress("tokenizer", {"kind": kind,
                                        "langs": len(t_rows)})
        # a training-data datasheet counts the MEDIA table too when
        # the source dir carries one: items/bytes per kind (one
        # aggregate) plus per-modality decodable fractions — real
        # decodes (fingerprint row-count deltas over the payload
        # scan: dHash/aHash/vHash), not a mime guess. Absent media ->
        # the section says so explicitly rather than silently reading
        # as text-only.
        media = self._media_or_none(source_dir)
        if media is None:
            card["media"] = {"present": False}
        else:
            kinds = {r["stratum"]: {"n_items": r["n_items"],
                                    "n_bytes": r["n_bytes"]}
                     for r in M.media_census(media).collect()
                     if r["kind"] == "media_kind"}
            card["media"] = {"present": True, "per_kind": kinds}
            for mod, noun, fp in (("image", "images", M.image_dhash),
                                  ("audio", "clips", M.audio_ahash),
                                  ("video", "videos", M.video_vhash)):
                n_kind = kinds.get(mod, {}).get("n_items", 0)
                n_dec = fp(media).count() if n_kind else 0
                card["media"][f"{noun}_decodable"] = n_dec
                card["media"][f"{mod}_decodable_fraction"] = round(
                    n_dec / n_kind, 4) if n_kind else None
            self.progress("media", card["media"])
        card_path = sinks.write_run_artifacts(output_path + "_card",
                                              {"data_card": card})
        return [census], {"data_card": card, "card_path": card_path}, \
            {"rows": back.count(), "path": output_path,
             "card_path": card_path}

    def _benchmark(self, plan: dict) -> DataFrame:
        """The plan's benchmark table; an unreadable one rejects (an
        actionable reason, not an AnalysisException stacktrace)."""
        with _rejecting(f"no benchmark readable at "
                        f"{plan['benchmark_path']}"):
            bench = self.spark.read.parquet(plan["benchmark_path"])
            bench.schema
        return bench

    def _run_decontaminate(self, plan: dict, source_dir: str,
                           output_path: str) -> Handled:
        """'decontaminate the corpus against the benchmark at /path':
        drop corpus rows that leak benchmark content, surviving rows
        land at the sink with an in/kept/flagged report.

        Two modes, picked by the query: the default n-gram path
        (:func:`operators.dedup.decontaminate` — k-word shingle
        overlap, the GPT-3-style 13-gram decontamination shape; 'min
        overlap N' tunes the floor) runs documents-vs-documents; a
        'semantically' / 'by embedding' mention swaps in
        :func:`operators.similarity.semantic_decontaminate`
        (sign-bucket-blocked cosine over the embeddings table;
        'threshold 0.9' tunes the cut) — the paraphrase-robust
        complement that catches leakage sharing no n-gram.

        Scale shape is identical in both modes: the benchmark side is
        eval-set-sized and BROADCASTS into one join against the
        streaming corpus scan — no corpus shuffle; the flagged-id set
        (bounded by the benchmark's neighborhood) broadcasts into the
        anti-join."""
        bench = self._benchmark(plan)
        if plan["semantic"]:
            corpus = Catalog(self.spark, source_dir).embeddings
            pairs = S.semantic_contamination(
                corpus, bench, threshold=plan["threshold"])
            flagged = (pairs.select(F.col("id_a").alias("vec_id"))
                       .distinct())
            kept = corpus.join(F.broadcast(flagged), "vec_id",
                               "left_anti")
        else:
            corpus = Catalog(self.spark, source_dir).documents
            pairs = D.contamination_pairs(
                corpus, bench, k=5, min_overlap=plan["min_overlap"])
            flagged = (pairs.select(F.col("id_a").alias("doc_id"))
                       .distinct())
            kept = corpus.join(F.broadcast(flagged), "doc_id",
                               "left_anti")
        n_in = corpus.count()
        n_flagged = flagged.count()
        self.progress("decontaminate", {"params": dict(plan),
                                        "flagged": n_flagged})
        n_out = self._publish(kept, output_path).count()  # read-back
        return [kept], {"rows_in": n_in, "rows_flagged": n_flagged,
                        "rows_kept": n_out}, n_out

    def _run_decontaminate_spans(self, plan: dict, source_dir: str,
                                 output_path: str) -> Handled:
        """'remove benchmark passages from the corpus against the
        benchmark at /path (windows of 20 tokens)': span-surgical
        decontamination (D19 — :func:`operators.dedup.
        remove_benchmark_spans`): every corpus token run of >= w
        tokens appearing verbatim in the benchmark is CUT, the
        document survives — the fix for D7's bluntness on long
        documents quoting one eval item. 'flag'/'find' phrasings
        report the span table without rewriting. Rejects a missing
        or unreadable benchmark path."""
        bench = self._benchmark(plan)
        corpus = Catalog(self.spark, source_dir).documents
        spans = D.benchmark_span_flags(corpus, bench, w=plan["window"])
        if plan.get("flag_only"):
            return self._publish_spans(spans, output_path)
        cleaned = D.apply_span_removal(corpus, spans)
        self.progress("decontaminate_spans", {"params": dict(plan)})
        return self._publish_cut(cleaned, output_path)

    def _bm25_index(self, index_path: str) -> str:
        """The persisted BM25 store's root; an unreadable one rejects."""
        store = index_path.rstrip("/")
        with _rejecting(f"no retrieval index readable at {index_path}"):
            self.spark.read.parquet(store + "/stats").first()
        return store

    def _run_retrieve(self, plan: dict, source_dir: str,
                      output_path: str) -> Handled:
        """'search the corpus for "hash join strategies", top 5' /
        'retrieve the best documents for "x" and "y"': BM25 lexical
        retrieval (:func:`operators.text.bm25_topk`) over the
        documents table, one quoted string per query row. The sparse
        complement of ``ann_search`` — same lifecycle conventions,
        different similarity space. Results join back the matched
        documents' language/source so the hit list reads standalone;
        the report inlines per-query hit counts (eval-sized).

        Scale: the query set broadcasts; the corpus shuffles only on
        its own (id, tok) aggregate — see the operator docstring.
        With 'the index at /path' the persisted BM25 store
        (:func:`operators.text.search_bm25_index`) answers at QUERY
        cost instead: the term filter pushes into the tok-sorted tf
        parquet, the corpus never rescans (the lang/source join back
        to the documents table is a pruned two-column projection, no
        text read)."""
        docs = Catalog(self.spark, source_dir).documents
        qset = self.spark.createDataFrame(
            [(i + 1, q) for i, q in enumerate(plan["queries"])],
            "query_id bigint, query_text string")
        if plan.get("index_path"):
            self._bm25_index(plan["index_path"])
            hits = T.search_bm25_index(self.spark, plan["index_path"],
                                       qset, k=plan["k"])
        else:
            hits = T.bm25_topk(docs, qset, k=plan["k"])
        frame = (hits
                 .join(F.broadcast(qset), "query_id")
                 .join(docs.select(F.col("doc_id").alias("id"),
                                   "lang", "source"), "id")
                 .select("query_id", "query_text", "rank", "id",
                         "bm25", "n_terms", "lang", "source"))
        self.progress("retrieve", {"params": dict(plan)})
        back = self._publish(frame, output_path)      # read-back
        counts = {r["query_text"]: r["n"]
                  for r in back.groupBy("query_text")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
        return [frame], {"hits_per_query": counts,
                         "rows_written": sum(counts.values())}, \
            sum(counts.values())

    def _run_corpus_store_build(self, plan: dict, source_dir: str,
                                output_path: str) -> Handled:
        """'build a bucketed corpus store, 32 buckets': persist the
        documents table hash-bucketed by doc_id
        (:func:`sources.sinks.save_corpus_store`) so every later
        'upsert the batch into the corpus store at /path' rewrites
        only the buckets holding batch keys. Bucket count derives
        corpus-proportionally when unnamed (constant rows per bucket
        — the rewrite unit must stay batch-scale at 100 TB)."""
        docs = Catalog(self.spark, source_dir).documents
        self.progress("build_store", {"params": dict(plan)})
        report = sinks.save_corpus_store(docs, output_path,
                                         n_buckets=plan["n_buckets"])
        return [], report, report["rows"]

    def _run_webdataset_write(self, plan: dict, source_dir: str,
                              output_path: str) -> Handled:
        """'export the corpus as webdataset, 8 shards' / 'write the
        corpus to webdataset shards at 64 mb': tar-shard export for
        streaming training loaders (:func:`sources.sinks.
        write_webdataset` — ``{key}.json``/``{key}.txt`` members in
        byte-deterministic ``shard-%06d.tar`` files, per-shard sha256
        manifest beside them). Shard count derives from corpus bytes
        against the mb target when unnamed; a duplicate-key corpus is
        rejected actionably (WebDataset keys must be unique)."""
        self.progress("export", {"params": dict(plan)})
        dest = output_path.rstrip("/") + "/webdataset"
        if plan.get("table") == "media":
            media = self._media(source_dir)
            frame = media.withColumn(
                "__ext", M.container_ext("payload", "kind")
                if "kind" in media.columns
                else M.container_ext("payload"))
            kwargs = dict(key_col="media_id", text_col=None,
                          binary_col="payload", ext_col="__ext")
        else:
            frame = Catalog(self.spark, source_dir).documents
            kwargs = dict(key_col="doc_id")
        try:
            report = sinks.write_webdataset(
                frame, dest,
                n_shards=plan["n_shards"],
                target_shard_mb=plan["target_shard_mb"], **kwargs)
        except sinks.SinkError as exc:
            raise Rejected(str(exc)) from exc
        return [], report, {"rows": report["rows_written"], "path": dest}

    def _corpus_store(self, plan: dict) -> str:
        """The plan's bucketed corpus store root; a path without the
        store's geometry sidecar rejects."""
        store = plan["store_path"].rstrip("/")
        with _rejecting(f"no corpus store readable at "
                        f"{plan['store_path']} (build one with 'build a "
                        f"bucketed corpus store')"):
            self.spark.read.parquet(store + "_meta").first()
        return store

    def _run_corpus_upsert(self, plan: dict, source_dir: str,
                           output_path: str) -> Handled:
        """'upsert the batch into the corpus store at /path': MERGE
        the source dir's documents into a persisted bucketed store
        (:func:`sources.sinks.merge_into_corpus` — batch rows replace
        same-key rows, insert otherwise; only touched buckets
        rewrite, untouched directories stay byte-identical). The
        batch also lands at the run's output for lineage. Rejects a
        missing path or a path without a store geometry sidecar."""
        store = self._corpus_store(plan)
        batch = Catalog(self.spark, source_dir).documents
        report = sinks.merge_into_corpus(self.spark, store, batch)
        self.progress("upsert", {"params": dict(plan), **report})
        n_out = self._publish(batch, output_path).count()
        return [batch], {**report, "batch_rows": n_out}, \
            {"rows": n_out, "path": store}

    def _run_corpus_rebucket(self, plan: dict, source_dir: str,
                             output_path: str) -> Handled:
        """'rebucket the corpus store at /path': re-derive the
        store's bucket count from its CURRENT rows and rewrite to the
        run's output (:func:`sources.sinks.rebucket_corpus_store` —
        never in place, the compact_store discipline). The SK5
        geometry-growth fix: merges honor frozen save-time geometry,
        so a store grown far past its save-time size rewrites
        corpus-proportional bucket units per merge; one rebucket pass
        restores constant rows/bucket and later merges against the
        new path are batch-cost again. Rejects a missing path or a
        path without the store's geometry sidecar."""
        store = self._corpus_store(plan)
        report = sinks.rebucket_corpus_store(self.spark, store,
                                             output_path)
        self.progress("rebucket", {"params": dict(plan), **report})
        return [], report, report["rows"]

    def _resolve_n_probe(self, plan: dict) -> tuple[int, str]:
        """n_probe resolution order: explicit in the query ('probing
        4 lists') > the store's tuned _meta sidecar (a prior 'tune
        the ann index at /path' run) > static default 2. The source
        that won rides the report, so an untuned store is visible,
        not silent."""
        if plan.get("n_probe") is not None:
            return plan["n_probe"], "query"
        tuned = S.load_index_tuning(self.spark, plan["index_path"])
        if tuned and tuned.get("tuned_n_probe") is not None:
            return tuned["tuned_n_probe"], "tuned"
        return 2, "default"

    def _load_index(self, index_path: str):
        """The persisted IVF-PQ store (centers, books, codes,
        rotation); an unloadable one rejects."""
        with _rejecting(f"no loadable index store at {index_path}"):
            return S.load_ivfpq_index(self.spark, index_path)

    def _run_hybrid_search(self, plan: dict, source_dir: str,
                           output_path: str) -> Handled:
        """'find documents like doc 42 using both keywords and
        embeddings, top 5': hybrid more-like-this — the named
        documents' own text feeds the BM25 tower and their own
        embeddings feed the dense tower, reciprocal-rank fused
        (:func:`operators.similarity.hybrid_topk`). The query's
        self-hit is dropped after fusion (its rank-1 slot is the
        sanity check, not an answer). Rejects ids missing from the
        documents or embeddings table with an actionable reason.

        '... using the ann index at /path' swaps the dense tower's
        corpus scan for the persisted IVF-PQ store (probed-lists ADC
        + exact rerank of the pool — see :func:`hybrid_topk`);
        n_probe resolves like the store-search face — explicit
        'probing N lists' > tuned ``_meta`` sidecar > default — and
        the report names the dense arm and the winning source.

        Scale: the query set is the handful of named ids — both
        towers broadcast it; the corpus never shuffles on anything
        but its own aggregates (store-backed: the probed lists)."""
        dense_index, n_probe, probe_source = None, None, None
        if plan.get("index_path"):
            dense_index = self._load_index(plan["index_path"])
            n_probe, probe_source = self._resolve_n_probe(plan)
        cat = Catalog(self.spark, source_dir)
        docs = cat.documents.select("doc_id", "text")
        emb = cat.embeddings
        ids = [int(i) for i in plan["doc_ids"]]
        qtext = (docs.filter(F.col("doc_id").isin(ids))
                 .select(F.col("doc_id").alias("query_id"),
                         F.col("text").alias("query_text")))
        qvec = (emb.filter(F.col("vec_id").isin(ids))
                .select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").alias("query_vec")))
        queries = qtext.join(qvec, "query_id")
        found = [r["query_id"] for r in
                 queries.select("query_id").collect()]
        missing = sorted(set(ids) - set(found))
        if missing:
            raise Rejected(f"no document+embedding for ids "
                           f"{missing} ('like doc N' needs both)")
        cands = emb.select(F.col("vec_id").alias("c_id"),
                           F.col("embedding").alias("c_vec"))
        hits = (S.hybrid_topk(docs, cands, queries,
                              k=plan["k"] + 1, k_pool=plan["k"] + 10,
                              dense_index=dense_index,
                              n_probe=n_probe or 2)
                .filter(F.col("id") != F.col("query_id")))
        self.progress("hybrid_search", {"params": dict(plan),
                                        "dense_arm": ("ivf" if dense_index
                                                      else "brute")})
        back = self._publish(hits, output_path)      # read-back
        counts = {int(r["query_id"]): r["n"]
                  for r in back.groupBy("query_id")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
        both = back.filter(F.col("n_arms") == 2).count()
        return [hits], {"hits_per_query": counts,
                        "hits_in_both_towers": both,
                        "dense_arm": ("ivf" if dense_index
                                      else "brute"),
                        **({"n_probe": n_probe,
                            "n_probe_source": probe_source}
                           if dense_index else {})}, sum(counts.values())

    def _run_bm25_index_build(self, plan: dict, source_dir: str,
                              output_path: str) -> Handled:
        """'build a retrieval index over the corpus': persist the BM25
        inverted index (:func:`operators.text.save_bm25_index` —
        tok-sorted postings + df/dl/stats sidecars) at the output.
        The lexical twin of `_run_ann_index_build`: build pays the
        corpus scan exactly once, every later 'search the index at
        /path for "..."' answers at query cost."""
        docs = Catalog(self.spark, source_dir).documents
        self.progress("build_index", {"params": dict(plan)})
        report = T.save_bm25_index(docs, output_path)
        return [], report, report["n_postings"]

    def _run_bm25_index_append(self, plan: dict, source_dir: str,
                               output_path: str) -> Handled:
        """'add the new documents to the retrieval index at /path':
        the lexical epoch-N+1 step, twin of `_run_ann_index_append` —
        the source dir's documents tokenize/aggregate at BATCH cost
        and parquet-APPEND into the store (tok-sorted postings plus
        df/dl/stats DELTA rows; :func:`operators.text.
        append_bm25_index`); the old corpus never rescans, and a
        later 'search the index at /path' folds the sidecars so
        scores equal a full rebuild exactly. Already-indexed ids are
        broadcast-prune skipped and counted in the report."""
        store = self._bm25_index(plan["index_path"])
        docs = Catalog(self.spark, source_dir).documents
        report = T.append_bm25_index(self.spark, store, docs)
        self.progress("append_index", {"params": dict(plan),
                                       **report})
        n_after = self.spark.read.parquet(store + "/dl").count()
        return [], {**report, "docs_after": n_after}, \
            {"rows": report["n_new_postings"], "path": store}

    def _run_ann_search(self, plan: dict, source_dir: str,
                        output_path: str) -> Handled:
        """'find the 10 nearest neighbors for each document, with an
        opq rotation': corpus self-kNN over the embeddings table via
        the IVF-PQ index (build + search — codes-only ADC with an
        exact rerank tier, so results carry TRUE distances), self
        matches removed. ``opq`` threads the parametric rotation
        through build and search and the report carries the
        rotation's reconstruction-MSE delta — the number the OPQ
        paper judges the rotation by (raw-space vs rotated-space PQ
        at the same code budget; the exact-tier results are identical
        either way since R is orthogonal).

        Scale: IVF list count grows as sqrt(n) (the standard IVF
        sizing curve — probe cost |Q|·n_probe·n/lists stays bounded),
        rerank touches k·|Q| full vectors, everything else joins
        codes against broadcast LUTs."""
        if plan.get("index_path"):
            return self._run_ann_search_store(plan, source_dir,
                                              output_path)
        emb = Catalog(self.spark, source_dir).embeddings
        # k-means cannot fit zero rows — an empty corpus is an
        # actionable rejection, not an opaque executor stacktrace
        # (the cluster_corpus/semantic_dedup empty-corpus contract)
        n = _rows(emb, "embeddings")
        n_clusters = max(16, int(n ** 0.5))
        cand = emb.select(F.col("vec_id").alias("c_id"),
                          F.col("embedding").alias("c_vec"))
        qry = emb.select(F.col("vec_id").alias("q_id"),
                         F.col("embedding").alias("q_vec"))
        rotation, opq_report = None, None
        if plan["opq"]:
            rotation = S.opq_rotation(emb, vec_col="embedding", m=4)
            raw_books = S.pq_train(emb, vec_col="embedding", m=4)
            rot = S.rotate_vectors(emb, rotation, vec_col="embedding")
            rot_books = S.pq_train(rot, vec_col="embedding", m=4)
            mse_raw = S.pq_reconstruction_mse(emb, raw_books)
            mse_rot = S.pq_reconstruction_mse(rot, rot_books)
            opq_report = {
                "mse_raw": round(mse_raw, 6),
                "mse_rotated": round(mse_rot, 6),
                # mse_raw == 0 is legitimate (constant/degenerate
                # embeddings fully captured by the codebooks): there
                # is no distortion for the rotation to reduce, so the
                # delta is 0, never a ZeroDivisionError
                "mse_delta_pct": (round(100 * (1 - mse_rot / mse_raw), 2)
                                  if mse_raw else 0.0)}
        self.progress("plan_index", {"params": dict(plan),
                                     "n_clusters": n_clusters,
                                     "opq": opq_report})
        centers, books, coded = S.ivfpq_build(
            cand, n_clusters=n_clusters, m=4, rotation=rotation)
        # search k+1 with the exact rerank tier, drop self matches
        # (dist 0 to itself), re-rank to k — every surviving row is a
        # TRUE squared-L2 neighbor
        k = plan["k"]
        # self-kNN means |queries| == |corpus|: past a broadcastable
        # size the |Q|-sized probe-LUT / rerank frames must SHUFFLE-
        # join (keyed exchanges) instead of shipping to every executor
        hits = S.ivfpq_search(centers, books, coded, qry, k=k + 1,
                              n_probe=2, rerank=2 * (k + 1),
                              candidates=cand, rotation=rotation,
                              broadcast_queries=n <= 100_000)
        w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(),
                                               F.col("c_id").asc())
        frame = (hits.filter(F.col("q_id") != F.col("c_id"))
                 .withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= k))
        n_out = self._publish(frame, output_path).count()  # read-back
        return [frame], {"n_vectors": n, "n_clusters": n_clusters,
                         "opq": opq_report, "rows_written": n_out}, n_out

    def _run_ann_search_store(self, plan: dict, source_dir: str,
                              output_path: str) -> Handled:
        """'find the 10 nearest neighbors for each document using the
        ann index at /path': search the PERSISTED IVF-PQ store
        instead of rebuilding — the serve face that closes the
        build → append → tune → search lifecycle against one
        artifact. The source dir's embeddings are the query batch;
        ``n_probe`` defaults to the store's tuned ``_meta`` sidecar
        (a prior 'tune the ann index at /path' run), else the static
        default, and the report says which source won. Ranking is
        ADC (the store holds codes, not vectors, so there is no
        exact-rerank tier here — results carry the ``adc`` column
        the index serves by); self matches drop by id when the store
        indexes the querying corpus itself."""
        centers, books, coded, rotation = self._load_index(
            plan["index_path"])
        emb = Catalog(self.spark, source_dir).embeddings
        n = _rows(emb, "embeddings")
        n_probe, probe_source = self._resolve_n_probe(plan)
        k = plan["k"]
        qry = emb.select(F.col("vec_id").alias("q_id"),
                         F.col("embedding").alias("q_vec"))
        self.progress("search_index", {"params": dict(plan),
                                       "n_probe": n_probe,
                                       "n_probe_source": probe_source})
        # corpus-sized query batches must not broadcast their LUTs
        # (the self-kNN rule in _run_ann_search)
        hits = S.ivfpq_search(centers, books, coded, qry, k=k + 1,
                              n_probe=n_probe, rotation=rotation,
                              broadcast_queries=n <= 100_000)
        w = Window.partitionBy("q_id").orderBy(F.col("adc").asc(),
                                               F.col("c_id").asc())
        frame = (hits.filter(F.col("q_id") != F.col("c_id"))
                 .withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= k))
        n_out = self._publish(frame, output_path).count()
        return [frame], {"n_queries": n, "n_probe": n_probe,
                         "n_probe_source": probe_source,
                         "ranking": "adc", "rows_written": n_out}, n_out

    def _run_ann_index_build(self, plan: dict, source_dir: str,
                             output_path: str) -> Handled:
        """'build an ann index over the embeddings, 64 lists, with an
        opq rotation': fit the IVF-PQ index once and persist the
        complete store (centers/books/codes/rotation, plain parquet —
        :func:`operators.similarity.save_ivfpq_index`) at the output.
        Later query batches search the RELOADED store and later
        epochs grow it via the append target — build is the expensive
        step at 100 TB and happens exactly once. When the query names
        no list count it derives as sqrt(n) (the standard IVF sizing
        curve: probe cost |Q|·n_probe·n/lists stays bounded)."""
        emb = Catalog(self.spark, source_dir).embeddings
        # same empty-corpus contract as _run_ann_search: reject
        # before KMeans.fit sees zero rows
        n = _rows(emb, "embeddings")
        n_lists = plan["n_lists"] or max(16, int(n ** 0.5))
        rotation = (S.opq_rotation(emb, vec_col="embedding", m=4)
                    if plan["opq"] else None)
        cand = emb.select(F.col("vec_id").alias("c_id"),
                          F.col("embedding").alias("c_vec"))
        centers, books, coded = S.ivfpq_build(
            cand, n_clusters=n_lists, m=4, rotation=rotation)
        self.progress("build_index", {"params": dict(plan),
                                      "n_lists": n_lists})
        S.save_ivfpq_index(self.spark, centers, books, coded,
                           output_path, rotation=rotation)
        n_codes = self.spark.read.parquet(
            output_path + "/codes").count()       # read-back
        return [coded], {"n_vectors": n, "n_lists": n_lists, "m": 4,
                         "opq": rotation is not None,
                         "codes_written": n_codes}, n_codes

    def _run_ann_index_append(self, plan: dict, source_dir: str,
                              output_path: str) -> Handled:
        """'append the new vectors to the index at /path': the ANN
        epoch-N+1 step, twin of the Bloom snapshot reload in
        `_run_incremental_dedup` — the source dir's embeddings encode
        against the FROZEN store (existing centers/books/rotation, no
        retrain, no rescan of the old corpus;
        :func:`operators.similarity.ivfpq_append`) and the new codes
        parquet-APPEND into the store's codes dir (append only adds
        files through the commit protocol — a failed job leaves the
        store intact). The batch's own codes also land at the run's
        output for lineage. The report carries before/appended/after
        counts, with `after` from a read-back of the grown store."""
        centers, books, coded, rotation = self._load_index(
            plan["index_path"])
        n_before = coded.count()
        batch = Catalog(self.spark, source_dir).embeddings.select(
            F.col("vec_id").alias("c_id"),
            F.col("embedding").alias("c_vec"))
        appended = S.ivfpq_append(centers, books, batch,
                                  rotation=rotation)
        back = self._publish(appended, output_path)   # read-back
        n_appended = back.count()
        self.progress("append_index", {"params": dict(plan),
                                       "appended": n_appended})
        back.write.mode("append").parquet(plan["index_path"] + "/codes")
        n_after = self.spark.read.parquet(
            plan["index_path"] + "/codes").count()
        return [appended], {"codes_before": n_before,
                            "codes_appended": n_appended,
                            "codes_after": n_after}, \
            {"rows": n_appended, "path": plan["index_path"]}

    def _load_index_and_query_sample(self, plan: dict,
                                     source_dir: str):
        """Shared front door of the index-telemetry targets
        (`ann_recall`, `ann_tune`): load the persisted IVF-PQ store
        and draw the deterministic query sample from the source
        dir's embeddings. Rejects an unloadable store or an empty
        corpus, else returns ``(centers, books, coded, rotation,
        queries, cand)``."""
        centers, books, coded, rotation = self._load_index(
            plan["index_path"])
        emb = Catalog(self.spark, source_dir).embeddings
        _rows(emb, "embeddings")
        # deterministic content-hash sample order (a bare limit would
        # take whichever partitions answered first); limit = TakeOrdered
        sample = (emb.orderBy(F.pmod(F.xxhash64("vec_id"),
                                     F.lit(1_000_003)), "vec_id")
                  .limit(plan["n_queries"]))
        queries = sample.select(F.col("vec_id").alias("q_id"),
                                F.col("embedding").alias("q_vec"))
        cand = emb.select(F.col("vec_id").alias("c_id"),
                          F.col("embedding").alias("c_vec"))
        return centers, books, coded, rotation, queries, cand

    def _run_ann_tune(self, plan: dict, source_dir: str,
                      output_path: str) -> Handled:
        """'tune the ann index at /path for recall 0.9': close the
        n_probe knob into a loop against the recall telemetry
        (:func:`operators.similarity.ann_nprobe_tune`) — double
        n_probe until the sampled recall@k meets the target or
        probing is exhaustive. The (n_probe, recall) curve lands at
        the sink and in the report; when even exhaustive probing
        misses the target the report says so (target_met=false — the
        ADC quantization is the ceiling; raise rerank or rebuild
        with more lists) instead of pretending a setting exists.
        The chosen ``n_probe`` also persists into the store's
        ``_meta`` sidecar (:func:`save_index_tuning`) so a later
        recall/search run against the same store defaults to the
        tuned setting — the loop stays closed across runs."""
        centers, books, coded, rotation, queries, cand = \
            self._load_index_and_query_sample(plan, source_dir)
        report = S.ann_nprobe_tune(centers, books, coded, queries, cand,
                                   k=plan["k"],
                                   target_recall=plan["target_recall"],
                                   rotation=rotation)
        S.save_index_tuning(self.spark, plan["index_path"], report)
        report["meta_saved"] = True
        self.progress("tune", {"params": dict(plan), **report})
        curve = self.spark.createDataFrame(
            [(c["n_probe"], c["recall"]) for c in report["curve"]],
            "n_probe int, recall double")
        n_out = self._publish(curve, output_path).count()
        return [curve], report, n_out

    def _run_ann_recall(self, plan: dict, source_dir: str,
                        output_path: str) -> Handled:
        """'estimate the recall of the ann index at /path, top 10,
        probing 4 lists': recall@k telemetry for a persisted IVF-PQ
        store (:func:`operators.similarity.ann_recall_estimate`) —
        the drift monitor that says when to raise n_probe or rebuild
        (quantizer drift loosens ADC as epochs append; this is the
        recall-side twin of the reconstruction-MSE watch). A
        deterministic hash-ordered sample of the source dir's
        embeddings (assumed to be the indexed corpus, the same
        contract the append target runs under) queries BOTH the
        index and the exact scan; the sampled approximate hits land
        at the sink and the report carries the recall. Cost: one
        corpus scan against |sample| broadcast queries — cheap by
        construction; the sample size caps it."""
        centers, books, coded, rotation, queries, cand = \
            self._load_index_and_query_sample(plan, source_dir)
        n_probe, probe_source = self._resolve_n_probe(plan)
        report, hits = S.ann_recall_estimate(centers, books, coded,
                                             queries, cand, k=plan["k"],
                                             n_probe=n_probe,
                                             rotation=rotation,
                                             return_hits=True)
        report["n_probe_source"] = probe_source
        self.progress("recall", {"params": dict(plan), **report})
        # hits is the CACHED frame the estimate graded — write it
        # instead of re-running the identical index search
        back = self._publish(hits, output_path)
        hits.unpersist()
        n_out = back.count()
        return [hits], {**report, "rows_written": n_out}, n_out

    def _run_split_corpus(self, plan: dict, source_dir: str,
                          output_path: str) -> Handled:
        """'split the corpus into train/val/test 80/10/10 without
        leakage': deterministic split assignment over the documents
        table. The default is per-document salted-hash assignment
        (:func:`operators.sampling.split_assign` — subset-stable,
        append-safe, no shuffle); a 'leakage'/'near-dup' mention
        upgrades to COMPONENT-atomic assignment
        (:func:`operators.sampling.leakage_safe_split` over
        MinHash-LSH near-dup components), so a doc and its near-copy
        can never straddle train/test. Per-split counts land in the
        report; fractions normalize from an '80/10/10' triple when
        the query names one."""
        docs = Catalog(self.spark, source_dir).documents
        if plan["leak_safe"]:
            pairs = D.minhash_lsh_pairs(docs)
            frame = SA.leakage_safe_split(docs, plan["splits"], pairs)
        else:
            frame = SA.split_assign(docs, plan["splits"],
                                    key_col="doc_id")
        self.progress("split", {"params": dict(plan)})
        back = self._publish(frame, output_path)   # read-back
        counts = {r["split"]: r["n"] for r in
                  back.groupBy("split").agg(F.count(F.lit(1)).alias("n"))
                  .collect()}
        return [frame], {"split_counts": counts,
                         "rows": sum(counts.values())}, \
            sum(counts.values())

    def _run_temperature_mix(self, plan: dict, source_dir: str,
                             output_path: str) -> Handled:
        """'flatten the language mix with temperature 0.5': alpha
        sampling of the documents table
        (:func:`operators.sampling.temperature_mix`) with per-stratum
        before/after counts in the report."""
        docs = Catalog(self.spark, source_dir).documents
        strata = plan["strata"]
        frame = SA.temperature_mix(docs, strata, alpha=plan["alpha"],
                                   key_col="doc_id", salt="temp")
        self.progress("sample", {"params": dict(plan)})
        back = self._publish(frame, output_path)      # read-back
        after = {r[strata]: r["n"] for r in
                 back.groupBy(strata).agg(F.count(F.lit(1)).alias("n"))
                 .collect()}
        before = {r[strata]: r["n"] for r in
                  docs.groupBy(strata).agg(F.count(F.lit(1)).alias("n"))
                  .collect()}
        return [frame], {"counts_before": before,
                         "counts_after": after}, sum(after.values())

    def _run_shuffle_order(self, plan: dict, source_dir: str,
                           output_path: str) -> Handled:
        """'shuffle the corpus for training, epoch 3': write the
        deterministic global training order
        (:func:`operators.sampling.shuffle_order`) — (doc_id, epoch,
        bucket, rank) with the 0-based global rank; re-running lands
        the identical permutation, a different epoch an independent
        one. The report pins the contract a trainer relies on:
        rank range is gap-free 0..n-1 (max rank + count from one
        aggregate over the read-back — no corpus-sized driver
        state)."""
        docs = Catalog(self.spark, source_dir).documents.select("doc_id")
        frame = SA.shuffle_order(docs, epoch=plan["epoch"])
        self.progress("shuffle", {"params": dict(plan)})
        agg = self._publish(frame, output_path).agg(   # read-back
            F.count(F.lit(1)).alias("n"),
            F.max("rank").alias("max_rank"),
            F.countDistinct("bucket").alias("n_buckets")).first()
        return [frame], {"n_docs": agg["n"],
                         "max_rank": agg["max_rank"],
                         "buckets_used": agg["n_buckets"],
                         "gap_free": agg["max_rank"] == agg["n"] - 1}, \
            agg["n"]

    def _run_unimax_mix(self, plan: dict, source_dir: str,
                        output_path: str) -> Handled:
        """'unimax the language mix with a budget of 50000 tokens, at
        most 2 epochs': UniMax epoch-capped allocation
        (:func:`operators.sampling.unimax_allocation`) of the token
        budget across languages (or sources when the query says so),
        writing the per-doc (id, stratum, epochs, n_copies)
        multiplicity table. The report inlines the per-stratum
        allocation — epochs granted, tokens available, saturated or
        equal-share — which is the number a mixing decision actually
        reads; a missing budget rejects actionably (the epoch cap
        alone does not determine an allocation)."""
        # 'is None', not a table requirement: a budget of 0 is a
        # budget
        if plan.get("budget") is None:
            raise Rejected("unimax needs a token budget "
                           "('... with a budget of 1000000 tokens')")
        docs = Catalog(self.spark, source_dir).documents
        strata = plan["strata"]
        if strata not in docs.columns:
            raise Rejected(f"documents table has no {strata!r} column")
        frame = SA.unimax_allocation(docs, plan["budget"],
                                     plan["max_epochs"], strata_col=strata)
        self.progress("allocate", {"params": dict(plan)})
        back = self._publish(frame, output_path)      # read-back
        per = (back.groupBy(strata)
               .agg(F.first("epochs").alias("epochs"),
                    F.count(F.lit(1)).alias("n_docs"),
                    F.sum("n_copies").alias("copies"))
               .collect())
        alloc = {r[strata]: {"epochs": r["epochs"], "n_docs": r["n_docs"],
                             "copies": r["copies"],
                             "saturated": r["epochs"] >= plan["max_epochs"]}
                 for r in per}
        return [frame], {"allocation": alloc}, \
            sum(a["n_docs"] for a in alloc.values())

    def _run_dsir_select(self, plan: dict, source_dir: str,
                         output_path: str) -> Handled:
        """'importance resample toward src18': fit the DSIR log-ratio
        table with the named source as the in-pool target domain
        (one-scan ``target_flag`` path), score every document, and
        write (id, n_grams, weight_micro) — narrowed to ABOVE-POOL-MEAN
        weights when the query asked to 'select'/'keep' (the mean cut
        is exact integer arithmetic: weight*n > total — robust to the
        smoothing-mass offset that makes every weight negative on a
        low-signal corpus). The named source is validated against the
        corpus's actual source census (tiny distinct collect) so a
        typo rejects with a reason instead of silently weighting
        against an empty target."""
        docs = Catalog(self.spark, source_dir).documents
        tgt = plan["target_source"]
        sources = {r["source"] for r in
                   docs.select("source").distinct().collect()}
        if tgt not in sources:
            raise Rejected(f"unknown target source {tgt!r}; corpus "
                           f"has {sorted(sources)[:8]}")
        table = SA.dsir_logratio_table(
            docs.withColumn("__t", F.col("source") == tgt),
            target_flag="__t")
        # persist: the weights frame feeds up to three actions (the
        # totals aggregate, the parquet write, and the above-mean
        # count) — without it the gram-explode pipeline recomputes
        # per action
        weights = SA.dsir_weights(docs, table).persist()
        # above-mean cut with exact integer arithmetic: broadcast the
        # 1-row totals and keep weight*n > total (no doubles, no
        # order dependence). decimal(38,0) keeps the product exact
        # past int64 — per-doc micro-weights (~1e11) times corpus
        # counts (~1e9+) overflow BIGINT, which Spark wraps silently
        # in non-ANSI mode; decimal is still exact integer arithmetic
        # cast INSIDE the sum: casting only the result would let the
        # accumulator itself run in BIGINT and wrap before the cast
        tot = weights.agg(F.sum(F.col("weight_micro")
                                .cast("decimal(38,0)")).alias("tot"),
                          F.count(F.lit(1)).alias("n"))
        above = (weights.crossJoin(F.broadcast(tot))
                 .filter(F.col("weight_micro").cast("decimal(38,0)")
                         * F.col("n").cast("decimal(38,0)")
                         > F.col("tot"))
                 .select("id", "n_grams", "weight_micro"))
        frame = above if plan.get("select") else weights
        self.progress("weight", {"params": dict(plan)})
        try:
            n_rows = self._publish(frame, output_path).count()  # read-back
            n_sel = n_rows if plan.get("select") else above.count()
        finally:
            weights.unpersist()
        return [frame], {"rows": n_rows, "above_mean": n_sel}, n_rows


@dataclass(frozen=True)
class DataopsTarget:
    """One dataops target: its handler, plus the plan key it cannot
    run without and the rejection text when that key is missing
    (``{field}`` placeholders fill from the plan)."""

    handler: Callable[..., Handled]
    requires: Optional[str] = None
    reason: str = ""


_P = Pipeline
# every target parse_dataops_query can return -> its handler. Adding a
# target is one entry here, one `_run_*` handler and one parser clause.
DATAOPS_TARGETS: dict[str, DataopsTarget] = {
    "corpus_to_shards": DataopsTarget(_P._run_corpus_to_shards),
    "ingest_crawl": DataopsTarget(
        _P._run_ingest_crawl, "crawl_path",
        "crawl ingest needs a path ('... the crawl at /path')"),
    "ingest_pdfs": DataopsTarget(
        _P._run_ingest_pdfs, "pdf_path",
        "pdf ingest needs a path ('... the pdfs at /path')"),
    "ingest_archives": DataopsTarget(
        _P._run_ingest_archives, "archive_path",
        "archive ingest needs a path ('... the zip at /path')"),
    "corpus_diff": DataopsTarget(
        _P._run_corpus_diff, "snapshot_path",
        "corpus diff needs a snapshot path ('... against the snapshot "
        "at /path')"),
    **{f"{m}_dedup": DataopsTarget(_P._run_media_dedup)
       for m in ("image", "audio", "video")},
    **{f"{m}_probe": DataopsTarget(
        _P._run_media_probe, "snapshot_path",
        "{modality} probe needs a snapshot path ('... against the "
        "snapshot at /path')") for m in ("image", "audio", "video")},
    **{f"{m}_containment": DataopsTarget(_P._run_containment)
       for m in ("video", "audio")},
    "containment_probe": DataopsTarget(
        _P._run_containment_probe, "snapshot_path",
        "{modality} containment probe needs a snapshot path ('... "
        "sharing frames with the snapshot at /path')"),
    "neardup_probe": DataopsTarget(
        _P._run_neardup_probe, "snapshot_path",
        "near-dup probe needs a snapshot path ('... against the band "
        "snapshot at /path')"),
    "band_snapshot": DataopsTarget(_P._run_band_snapshot),
    "incremental_dedup": DataopsTarget(
        _P._run_incremental_dedup, "snapshot_path",
        "incremental dedup needs a snapshot path ('... against the "
        "seen snapshot at /path')"),
    "substring_dedup": DataopsTarget(_P._run_substring_dedup),
    "passage_snapshot": DataopsTarget(_P._run_passage_snapshot),
    "passage_probe": DataopsTarget(
        _P._run_passage_probe, "snapshot_path",
        "passage probe needs a snapshot path ('against the passage "
        "snapshot at /path')"),
    "domain_rank": DataopsTarget(
        _P._run_domain_rank, "edges_path",
        "domain ranking needs a link graph path ('by the link graph at "
        "/path' — a parquet of (src, dst) domain edges)"),
    "link_graph_build": DataopsTarget(
        _P._run_link_graph_build, "crawl_path",
        "link-graph build needs a crawl path ('from the crawl at "
        "/path')"),
    "compact_store": DataopsTarget(
        _P._run_compact_store, "store_path",
        "compaction needs a store path ('compact the snapshot at "
        "/path')"),
    "license_scan": DataopsTarget(_P._run_license_scan),
    "bin_pack": DataopsTarget(_P._run_bin_pack),
    "embed_documents": DataopsTarget(_P._run_embed_documents),
    "chunk_documents": DataopsTarget(_P._run_chunk_documents),
    "corpus_census": DataopsTarget(_P._run_corpus_census),
    "tokenize_pack": DataopsTarget(_P._run_tokenize_pack),
    "tokenizer_train": DataopsTarget(_P._run_tokenizer_train),
    "tokenizer_stats": DataopsTarget(
        _P._run_tokenizer_stats, "tokenizer_path",
        "tokenizer stats need a tokenizer path ('... with the "
        "tokenizer at /path')"),
    "classifier_train": DataopsTarget(_P._run_classifier_train),
    "classifier_score": DataopsTarget(
        _P._run_classifier_score, "model_path",
        "scoring needs a model path ('with the classifier at /path')"),
    "semantic_dedup": DataopsTarget(_P._run_semantic_dedup),
    "cluster_corpus": DataopsTarget(_P._run_cluster_corpus),
    "cluster_assign": DataopsTarget(
        _P._run_cluster_assign, "centers_path",
        "cluster_assign needs 'clusters at <path>'"),
    "verify_shards": DataopsTarget(
        _P._run_verify_shards, "shards_path",
        "verify_shards needs 'shards at <path>'"),
    "data_card": DataopsTarget(_P._run_data_card),
    "decontaminate": DataopsTarget(
        _P._run_decontaminate, "benchmark_path",
        "decontamination needs a benchmark path ('... against the "
        "benchmark at /path')"),
    "decontaminate_spans": DataopsTarget(
        _P._run_decontaminate_spans, "benchmark_path",
        "span decontamination needs a benchmark path ('against the "
        "benchmark at /path')"),
    "retrieve": DataopsTarget(
        _P._run_retrieve, "queries",
        "retrieval needs at least one quoted query string ('search the "
        "corpus for \"...\"')"),
    "hybrid_search": DataopsTarget(
        _P._run_hybrid_search, "doc_ids",
        "hybrid search needs document ids ('like doc 42')"),
    "bm25_index_build": DataopsTarget(_P._run_bm25_index_build),
    "bm25_index_append": DataopsTarget(
        _P._run_bm25_index_append, "index_path",
        "index append needs an index path ('... to the retrieval index "
        "at /path')"),
    "corpus_store_build": DataopsTarget(_P._run_corpus_store_build),
    "webdataset_write": DataopsTarget(_P._run_webdataset_write),
    "corpus_rebucket": DataopsTarget(
        _P._run_corpus_rebucket, "store_path",
        "rebucket needs a store path ('rebucket the corpus store at "
        "/path')"),
    "corpus_upsert": DataopsTarget(
        _P._run_corpus_upsert, "store_path",
        "corpus upsert needs a store path ('... into the corpus store "
        "at /path')"),
    "ann_search": DataopsTarget(_P._run_ann_search),
    "ann_index_build": DataopsTarget(_P._run_ann_index_build),
    "ann_index_append": DataopsTarget(
        _P._run_ann_index_append, "index_path",
        "index append needs an index path ('... to the index at "
        "/path')"),
    "ann_recall": DataopsTarget(
        _P._run_ann_recall, "index_path",
        "recall estimation needs an index path ('... the ann index at "
        "/path')"),
    "ann_tune": DataopsTarget(
        _P._run_ann_tune, "index_path",
        "index tuning needs an index path ('... the ann index at "
        "/path')"),
    "split_corpus": DataopsTarget(_P._run_split_corpus),
    "dsir_select": DataopsTarget(
        _P._run_dsir_select, "target_source",
        "dsir needs a target domain ('... toward <source>')"),
    "temperature_mix": DataopsTarget(_P._run_temperature_mix),
    "unimax_mix": DataopsTarget(_P._run_unimax_mix),
    "shuffle_order": DataopsTarget(_P._run_shuffle_order),
}


# dataops NL routing: deterministic keyword/number extraction, mirroring
# RulePlanner's style (rule-encoded routing, LLM-pluggable upstream)
_DATAOPS_HINTS = ("curate", "curation", "dedup", "deduplicate", "shard",
                  "training corpus", "training data", "pack",
                  "chunk", "snapshot", "temperature", "flatten",
                  "importance", "dsir", "resample", "crawl", "warc",
                  "pdf", "zip", "tarball", " tar ",
                  "census", "corpus stat",
                  # WebDataset tar-shard export
                  "webdataset", "web dataset", "tar shard",
                  # UniMax epoch-capped language allocation
                  "unimax", "epoch-capped", "epoch capped", "epoch cap",
                  # deterministic global training order — FULL phrases
                  # only: a bare 'shuffle' would drag any query
                  # containing the word into the dataops fallthrough
                  # (the corpus_to_shards default), the routing hijack
                  # the fertility advisory warned about
                  "shuffle the corpus", "shuffle the documents",
                  "shuffle the examples", "shuffle for training",
                  "training order",
                  # ExactSubstr dedup phrasings: 'remove duplicated
                  # passages' / 'strip repeated substrings'
                  "duplicated passage", "repeated passage",
                  "duplicated substring", "repeated substring",
                  "substring dedup",
                  # span-surgical decontamination phrasings
                  "benchmark passage", "benchmark span",
                  "benchmark quote",
                  # hybrid two-tower retrieval phrasings
                  "hybrid", "keywords and embeddings",
                  "keywords and vectors",
                  # bucketed corpus store lifecycle
                  "upsert", "corpus store",
                  # domain ranking over the link graph
                  "link graph", "pagerank", "domain rank",
                  # store maintenance
                  "compact",
                  # license / compliance governance
                  "license", "licence",
                  # truncation-free FFD packing
                  "bin pack", "bin-pack", "without truncation",
                  # built-in document embedding
                  "embed",
                  # Q7 quality-classifier lifecycle
                  "classifier",
                  # scoped so 'show the token length distribution of
                  # replies' / 'cluster the user sessions' never pass
                  # the gate and fall through to corpus_to_shards —
                  # the hint must imply the CORPUS-object phrasings
                  # the target regexes actually accept
                  "corpus token length", "corpus length distribution",
                  "data card", "datacard", "datasheet",
                  "cluster the embeddings", "cluster the corpus",
                  "cluster the documents", "to the clusters",
                  "cluster map",
                  "containment", "sub-clip", "subclip",
                  "containing clips", "containing segments",
                  "containing frames", "sharing frames",
                  "sharing windows", "sharing segments",
                  "tokenize", "tokenise",
                  "bm25", "search the corpus", "retrieve the",
                  "search the index", "retrieval index",
                  "inverted index", "lexical index",
                  "nearest", "neighbo", "similarity search",
                  "ann search", "decontaminat", "contamination",
                  "ann index", "vector index", "ivf",
                  # append-to-store phrasings name only 'the index';
                  # scoped phrases so finance queries ('the S&P
                  # index') can't leak into the dataops router
                  "to the index", "index at ",
                  # scoped: 'stock split' must not route here
                  "split the corpus", "into train", "leakage")
# 'remove duplicated passages across the corpus (windows of 50
# tokens)' -> ExactSubstr dedup (D18); the verb decides rewrite vs
# report-only
_SUBSTR_TARGET_RE = re.compile(
    r"\b(remove|strip|cut|flag|find)\b[^.]*\b(?:duplicat\w*|repeated)\s+"
    r"(?:passages?|substrings?|spans?|token\s+runs?)\b"
    r"|\bexact\s+substring\s+dedup\b")
_SUBSTR_WINDOW_RE = re.compile(
    r"\b(?:windows?|runs?)\s+of\s+(\d+)\s+tokens?\b")
# 'build a passage snapshot of the corpus' — the ExactSubstr build
# face; a snapshot mention on a flag/find-passages phrasing routes
# to the incremental probe instead of the batch span report
_PASSAGE_BUILD_RE = re.compile(
    r"\b(?:build|create)\b[^.]*\bpassage\s+snapshot\b")
# 'rank the domains by the link graph at /path' / 'pagerank the
# domains' — the crawl-curation domain-quality prior (W4)
_DOMAIN_RANK_RE = re.compile(
    r"\b(?:rank|pagerank|score)\b[^.]*\bdomains?\b"
    r"|\bdomain\s+rank(?:ing)?\b")
_ITER_RE = re.compile(r"\b(\d+)\s+iterations?\b")
# 'compact the snapshot/store/index at /path' — small-file rewrite
# of any append-grown store into the run's output
_COMPACT_RE = re.compile(
    r"\bcompact\b[^.]*\b(?:snapshot|store|index)\b")
# 'license audit the corpus' / 'scan the corpus for licenses,
# dropping copyleft and restricted documents' (T19)
_LICENSE_RE = re.compile(
    r"\blicen[cs]e\s+(?:audit|scan)\b"
    r"|\b(?:scan|audit)\b[^.]*\blicen[cs]es?\b")
_LICENSE_DROP_RE = re.compile(
    r"\b(?:drop|remov|filter)\w*\b[^.]*?"
    r"\b(copyleft|restricted|cc|permissive|unmarked)\b"
    r"(?:[^.]*?\b(copyleft|restricted|cc|permissive|unmarked)\b)?")
# 'bin pack the corpus into bins of 1024 tokens without truncation'
# — truncation-free FFD packing (PK3); distinct from the default
# concatenate-and-split shard flow
_BINPACK_RE = re.compile(
    r"\bbin[- ]?pack\b|\bwithout\s+truncat\w+\b")
_BIN_BUDGET_RE = re.compile(
    r"\bbins?\s+of\s+(\d+)\s+tokens?\b|\bbudget\s+(?:of\s+)?(\d+)\b")
# 'embed the documents, 128 dimensions' — built-in hashed
# random-projection featurizer; the output chains into every dense
# target as the embeddings table
_EMBED_RE = re.compile(
    r"\bembed\b[^.]*\b(?:documents|corpus|docs)\b")
_DIM_RE = re.compile(r"\b(\d+)\s+dim(?:ension)?s?\b")
# target routing: 'diff ... snapshot/previous' -> corpus_diff;
# 'chunk' -> chunk_documents; everything else -> corpus_to_shards
_DIFF_TARGET_RE = re.compile(r"\bdiff\b")
# paths may be local (/, ./, ~/) or any Hadoop-filesystem URI
# (s3://, s3a://, hdfs://, gs://, abfs://, file://) — production
# snapshots and crawls live behind URI schemes, not local mounts
_PATH_SHAPE = r"((?:[A-Za-z][A-Za-z0-9+.-]*://|/|\./|~/)[^\s,;]+)"
_SNAPSHOT_PATH_RE = re.compile(
    r"\bsnapshot\s+(?:at\s+|in\s+)?" + _PATH_SHAPE, re.IGNORECASE)
_GRAPH_PATH_RE = re.compile(
    r"\b(?:link\s+)?graph\s+(?:at\s+|in\s+)?" + _PATH_SHAPE,
    re.IGNORECASE)
_CHUNK_TARGET_RE = re.compile(r"\bchunk(?:ed|ing|s)?\b")
_CHUNK_SIZE_RE = re.compile(r"\bsize\s+(?:of\s+)?(\d+)\b")
_CHUNK_STRIDE_RE = re.compile(r"\b(?:stride|overlap step)\s+(?:of\s+)?(\d+)\b")
# 'semantically dedup' / 'dedup by embedding' -> semantic_dedup;
# 'temperature 0.3' / 'flatten the language mix' -> temperature_mix
_SEMANTIC_TARGET_RE = re.compile(r"\bsemantic(?:ally)?\b|\bby embeddings?\b")
_ANN_TARGET_RE = re.compile(
    r"\bnearest\s+neighbou?rs?\b|\bann\s+(?:search|index)\b|"
    r"\bsimilarity\s+search\b")
# lexical (BM25) retrieval: the query text rides in quotes — 'search
# the corpus for "hash join strategies"'. Distinct from the dense ANN
# family above (which searches the embeddings table against itself).
_RETRIEVE_TARGET_RE = re.compile(
    r"\bbm25\b|\bsearch the corpus\b|\bsearch the index\b|"
    r"\bretrieve\b.{0,40}\b(?:documents|docs)\b")
# 'find documents like doc 42 using both keywords and embeddings':
# hybrid two-tower more-like-this (BM25 + dense cosine, RRF-fused)
_HYBRID_TARGET_RE = re.compile(
    r"\bhybrid\b|\bboth\s+keywords?\s+and\s+(?:embeddings?|vectors?)\b"
    r"|\bkeywords?\s+and\s+embeddings?\b")
_LIKE_DOCS_RE = re.compile(
    r"\blike\s+doc(?:ument)?s?\s+(\d+(?:\s*(?:,|and)\s*\d+)*)")
_QUOTED_RE = re.compile(r"[\"']([^\"']{1,200})[\"']")
# 'build a retrieval index over the corpus': the build face of the
# persisted BM25 store ('ann/vector index' phrasings stay on the
# dense ANN build above)
_BM25_INDEX_BUILD_RE = re.compile(
    r"\b(?:build|create)\b[^.]*"
    r"\b(?:retrieval|bm25|lexical|inverted)\s+index\b")
_ANN_K_RE = re.compile(
    r"\b(\d+)\s+nearest\b|\btop\s+(\d+)\b|\bk\s*=\s*(\d+)\b")
_SEM_THRESHOLD_RE = re.compile(r"\bthreshold\s+(?:of\s+)?(0?\.\d+)\b")
_SIMILARITY_RE = re.compile(r"\bsimilarity\s+(?:of\s+)?(0?\.\d+)\b")
_CLUSTERS_RE = re.compile(r"\b(\d+)\s+clusters?\b")
# 'cluster the embeddings into 12 topics' — standalone corpus
# clustering (data-map view); scoped to the cluster VERB + a corpus
# noun so 'semantically dedup with 32 clusters' never lands here
# (the semantic branch is also checked first)
_CLUSTER_TARGET_RE = re.compile(
    r"\bcluster(?:ing)?\b[^.]*\b(?:embeddings?|corpus|documents)\b"
    r"|\binto\s+\d+\s+topics\b")
_TOPICS_RE = re.compile(r"\b(\d+)\s+topics\b")
# 'assign the new embeddings to the clusters at /path' — map a fresh
# batch onto a persisted cluster map without refitting (the data-map
# twin of the frozen-index append)
_CLUSTER_ASSIGN_RE = re.compile(
    r"\b(?:assign|map)\b[^.]*\bto the (?:clusters?|cluster map)\b")
_CLUSTERS_PATH_RE = re.compile(
    r"\bcluster(?:s| map)?\s+(?:at\s+|in\s+)?" + _PATH_SHAPE,
    re.IGNORECASE)
# 'verify the shards at /path against the manifest' — receiving-side
# integrity check of a shipped shard set (manifest defaults to the
# writer's <shards>_manifest sidecar; 'manifest at /other' overrides)
_SHARD_VERIFY_RE = re.compile(
    r"\b(?:verify|check|validate)\b[^.]*\bshards?\b")
_SHARDS_PATH_RE = re.compile(
    r"\bshards?\s+(?:at\s+|in\s+)?" + _PATH_SHAPE, re.IGNORECASE)
_MANIFEST_PATH_RE = re.compile(
    r"\bmanifest\s+(?:at\s+|in\s+)?" + _PATH_SHAPE, re.IGNORECASE)
# WebDataset tar-shard export — the delivery format streaming training
# loaders consume ('export the corpus as webdataset, 8 shards' /
# 'write the corpus to webdataset shards at 64 mb'); the verify verb
# stays on the manifest-check route
_WDS_RE = re.compile(r"\bweb\s?dataset\b|\btar\s+shards?\b")
_WDS_MB_RE = re.compile(r"\b(\d+)\s*mb\b")
_TEMP_TARGET_RE = re.compile(r"\btemperature\b|\bflatten\b")
# 'unimax the language mix, budget 50000 tokens, at most 2 epochs':
# epoch-capped uniform allocation — keyword-gated (unimax / epoch-cap
# phrasing) so 'budget'/'epochs' alone never hijack other targets
_UNIMAX_TARGET_RE = re.compile(r"\bunimax\b|\bepoch[- ]capp?(?:ed|ing)?\b")
# 'shuffle the corpus for training, epoch 3' / 'write the training
# order': the deterministic global permutation (SM11). 'shard' wins —
# corpus_to_shards already shuffles as part of sharding.
_SHUFFLE_TARGET_RE = re.compile(
    r"\bshuffle\b.{0,40}\b(?:corpus|training|examples|documents)\b"
    r"|\btraining\s+order\b")
_EPOCH_N_RE = re.compile(r"\bepoch\s+(\d+)\b")
_UNIMAX_BUDGET_RE = re.compile(
    r"\bbudget\s+(?:of\s+)?([\d][\d,_]*)|([\d][\d,_]*)[\s-]token\s+budget"
    r"|\ballocate\s+([\d][\d,_]*)\s+tokens\b")
_UNIMAX_EPOCHS_RE = re.compile(
    r"\b(?:at\s+most|max(?:imum)?(?:\s+of)?)\s+(\d+)\s+epochs?\b"
    r"|\b(\d+)\s+epochs?\s+(?:cap|max)\b|\bepoch\s+cap\s+(?:of\s+)?(\d+)\b")
# 'extract text from the crawl at /path' / 'ingest the warc archive'
_CRAWL_TARGET_RE = re.compile(r"\bcrawl\b|\bwarc\b")
# 'build the link graph from the crawl at /path' — href extraction
# into (src, dst) domain edges; checked BEFORE the bare crawl door
_LINK_GRAPH_BUILD_RE = re.compile(
    r"\b(?:build|extract|create)\b[^.]*\blink\s+graph\b")
_CRAWL_PATH_RE = re.compile(
    r"\b(?:crawl|warcs?|archive)\s+(?:at\s+|in\s+|from\s+)?"
    + _PATH_SHAPE, re.IGNORECASE)
_PDF_TARGET_RE = re.compile(r"\bpdfs?\b")
_PDF_PATH_RE = re.compile(
    r"\bpdfs?\s+(?:at\s+|in\s+|from\s+)?" + _PATH_SHAPE, re.IGNORECASE)
_ARCHIVE_TARGET_RE = re.compile(r"\bzips?\b|\btarballs?\b|\btars?\b")
_ARCHIVE_PATH_RE = re.compile(
    r"\b(?:zip|tarball|tar(?:\.gz)?|archive)s?\s+(?:at\s+|in\s+|from\s+)?"
    + _PATH_SHAPE, re.IGNORECASE)
# 'generate a data card for the corpus' / 'write a datasheet'
_DATACARD_TARGET_RE = re.compile(r"\bdata\s?card\b|\bdatasheet\b")
# 'census the corpus' / 'report corpus statistics per language'
_CENSUS_TARGET_RE = re.compile(
    r"\bcensus\b|\bcorpus stat(?:istic)?s\b"
    r"|\bcorpus .*length distribution\b")
# 'tokenize the corpus and pack 512-token sequences'
_TOKENIZE_TARGET_RE = re.compile(r"\btokeni[sz]e\b")
# 'train a bpe tokenizer on the corpus, 300 merges, and save it' —
# the train-once artifact face; 'tokenize ... with the tokenizer at
# /path' is the reuse face
_TOKENIZER_TRAIN_RE = re.compile(
    r"\btrain\b[^.]*\btokeni[sz]er\b")
# 'report tokenizer stats with the tokenizer at /path' / 'tokenizer
# fertility per language' — the artifact-validation telemetry.
# 'fertility' alone is NOT enough: it must sit in the same sentence
# as a token/tokenizer word, else any dataops query that merely
# mentions the word would be hijacked ahead of every later target.
_TOKSTATS_RE = re.compile(
    r"\btokeni[sz]er\b[^.]*\b(?:stats|statistics|fertility|"
    r"compression)\b|\bfertility\b[^.]*\btoken\w*\b")
_TOKENIZER_PATH_RE = re.compile(
    r"\btokeni[sz]er\s+(?:at\s+|in\s+|from\s+)?" + _PATH_SHAPE,
    re.IGNORECASE)
# 'train a quality classifier on the corpus and save it' / 'score
# the corpus with the classifier at /path' — the Q7 model lifecycle
_CLASSIFIER_TRAIN_RE = re.compile(
    r"\btrain\b[^.]*\b(?:quality\s+)?classifier\b")
_CLASSIFIER_SCORE_RE = re.compile(
    r"\bscore\b[^.]*\bwith\s+the\s+(?:quality\s+)?classifier\b")
_CLASSIFIER_PATH_RE = re.compile(
    r"\bclassifier\s+(?:at\s+|in\s+|from\s+)?" + _PATH_SHAPE,
    re.IGNORECASE)
_MERGES_RE = re.compile(r"\b(\d+)\s+merges?\b")
# 'importance resample toward src18' / 'dsir select docs like src3'
_DSIR_TARGET_RE = re.compile(r"\bdsir\b|\bimportance\b|\bresampl")
_DSIR_SOURCE_RE = re.compile(
    r"\b(?:toward|towards|like|similar to)\s+(?:the\s+)?(?:source\s+|"
    r"domain\s+)?'?([A-Za-z0-9_.-]+)'?", re.IGNORECASE)
_ALPHA_RE = re.compile(
    r"\b(?:temperature|alpha)\s+(?:of\s+)?(0?\.\d+|1(?:\.0)?|0)\b")
# budget binds from a budget-flavored anchor word when one is present;
# otherwise a bare 'N tokens' counts ONLY if it doesn't overlap the
# seq-length match — 'pack into contexts of 512 tokens' names the
# context size, not the budget, and must not clobber the default
_TOKEN_BUDGET_KEYED_RE = re.compile(
    r"\b(?:budget|select|keep|total)\D{0,15}?([\d][\d,_]*)\s*tokens?\b")
_TOKEN_BUDGET_RE = re.compile(r"\b([\d][\d,_]*)\s*tokens?\b")
_SEQ_LEN_RE = re.compile(
    r"\b(?:sequence|seq|context)s?(?:\s+length)?(?:\s+of)?\s+(\d+)\b")
_SHARDS_RE = re.compile(r"\b(\d+)\s+shards?\b")
_EPOCH_RE = re.compile(r"\bepoch\s+(\d+)\b")
# 'decontaminate the corpus against the benchmark at /path';
# 'semantically' / 'by embedding' opts into the embedding-space path
_DECONTAM_TARGET_RE = re.compile(r"\bdecontaminat|\bcontamination\b")
# 'remove benchmark passages from the corpus against the benchmark
# at /p' — the span-surgical decontamination phrasing (D19)
_BENCH_SPAN_RE = re.compile(
    r"\b(?:remove|strip|cut|flag|find)\b[^.]*\bbenchmark\s+"
    r"(?:passages?|spans?|quotes?)\b")
_BENCH_PATH_RE = re.compile(
    r"\b(?:benchmark|eval(?:uation)?\s+set|test\s+set)s?\s+"
    r"(?:at\s+|in\s+|from\s+)?" + _PATH_SHAPE, re.IGNORECASE)
_OVERLAP_RE = re.compile(
    r"\b(?:min(?:imum)?\s+)?overlap\s+(?:of\s+)?(\d+)\b")
# 'build an ann index over the embeddings, 64 lists' /
# 'append the new vectors to the index at /path'
_ANN_INDEX_BUILD_RE = re.compile(
    r"\b(?:build|create|fit)\b[^.]*\b(?:ann|ivf(?:-?pq)?|vector)\s+"
    r"index\b|\bindex\s+the\s+embeddings\b")
_ANN_INDEX_APPEND_RE = re.compile(
    r"\b(?:append|add)\b[^.]*\bto\s+the\s+"
    r"(?:ann\s+|ivf(?:-?pq)?\s+|vector\s+)?index\b")
# 'estimate the recall of the ann index at /path, top 10, probing 4
# lists, sampling 64 queries' — the index drift monitor
_ANN_RECALL_RE = re.compile(
    r"\brecall\s+of\s+the\s+(?:ann\s+|ivf(?:-?pq)?\s+|vector\s+)?"
    r"index\b"
    r"|\b(?:estimate|measure|check|report)\b[^.]*\bindex\b[^.]*"
    r"\brecall\b")
_PROBES_RE = re.compile(r"\bprobing\s+(\d+)\b|\b(\d+)\s+probes\b")
_SAMPLE_Q_RE = re.compile(r"\bsampl(?:e|ing)\s+(\d+)\s+quer")
# 'tune the ann index at /path for recall 0.9, top 10' — close the
# n_probe knob into a loop against the recall telemetry
_ANN_TUNE_RE = re.compile(
    r"\btune\b[^.]*\b(?:ann\s+|ivf(?:-?pq)?\s+|vector\s+)?index\b")
_TARGET_RECALL_RE = re.compile(r"\brecall\s+(?:of\s+)?(0?\.\d+|1\.0|1)\b")
# 'add the new documents to the retrieval index at /path': the
# lexical epoch-grow face (append_bm25_index) — the explicit
# retrieval/bm25/lexical/inverted qualifier keeps it disjoint from
# the dense append above, whose regex only accepts ann/ivf/vector
# or a bare 'the index'
_BM25_INDEX_APPEND_RE = re.compile(
    r"\b(?:append|add)\b[^.]*\bto\s+the\s+"
    r"(?:retrieval|bm25|lexical|inverted)\s+index\b")
# bucketed corpus store lifecycle: 'build a bucketed corpus store,
# 32 buckets' / 'upsert the batch into the corpus store at /path'
_STORE_BUILD_RE = re.compile(
    r"\b(?:build|create)\b[^.]*\b(?:bucketed\s+)?corpus\s+store\b")
_UPSERT_RE = re.compile(
    r"\b(?:upsert|merge)\b[^.]*\binto\s+the\s+corpus\s+store\b")
_REBUCKET_RE = re.compile(
    r"\brebucket\b[^.]*\b(?:corpus\s+)?store\b"
    r"|\bre-?derive\b[^.]*\bbucket\b[^.]*\bstore\b")
_STORE_PATH_RE = re.compile(
    r"\bstore\s+(?:at\s+|in\s+)?" + _PATH_SHAPE, re.IGNORECASE)
_BUCKETS_RE = re.compile(r"\b(\d+)\s+buckets?\b")
_INDEX_PATH_RE = re.compile(
    r"\bindex\s+(?:at\s+|in\s+)?" + _PATH_SHAPE, re.IGNORECASE)
_LISTS_RE = re.compile(r"\b(\d+)\s+(?:lists|inverted lists)\b")
# 'split the corpus into train/val/test 80/10/10 without leakage'
_SPLIT_TARGET_RE = re.compile(
    r"\bsplit\b[^.]*\binto\s+train\b|"
    r"\btrain\s*/\s*(?:val(?:id(?:ation)?)?|dev)\s*/\s*test\b")
_SPLIT_FRACS_RE = re.compile(r"\b(\d{1,2})\s*/\s*(\d{1,2})\s*/\s*(\d{1,2})\b")
# media lifecycle: 'dedup the images' / 'dedup the audio clips' ->
# perceptual dedup over the media table (dHash / aHash); 'flag the
# new images|audio against the snapshot at /p' -> batch probe of a
# persisted hamming snapshot. The probe wording outranks the generic
# incremental-dedup route (which would otherwise claim 'dedup the new
# images against the seen snapshot')
_MEDIA_PROBE_RE = re.compile(
    r"\b(?:flag|probe|check|dedup(?:licate)?)\b"
    r"[^.]*\b(images?|audio(?:\s+clips?)?|videos?(?:\s+clips?)?)\b"
    r"[^.]*\bagainst\b[^.]*\bsnapshot\b")
# text near-dup probe: 'flag near-duplicate documents against the
# band snapshot at /p' — the MinHash band-table face of the media
# probes; the 'band' qualifier keeps the exact-dedup route
# ('dedup ... against the seen snapshot') unambiguous
_NEARDUP_PROBE_RE = re.compile(
    r"\b(?:flag|probe|check)\b[^.]*\bnear[- ]?dup(?:licate)?s?\b"
    r"[^.]*\bagainst\b[^.]*\bband\s+snapshot\b"
    r"|\bnear[- ]?dup(?:licate)?s?\b[^.]*\bband\s+snapshot\b")
# 'build a near-dup band snapshot of the corpus' — the build face of
# the probe above (scoped to build verbs so the probe route keeps
# every 'against ...' phrasing)
_BAND_SNAPSHOT_BUILD_RE = re.compile(
    r"\b(?:build|create|fit|make)\b[^.]*\bband\s+snapshot\b")
_MEDIA_DEDUP_RE = re.compile(
    r"\bdedup(?:licate)?\b"
    r"[^.]*\b(images?|audio(?:\s+clips?)?|videos?(?:\s+clips?)?)\b"
    r"|\b(image|audio|video)\s+dedup")
# sub-clip containment: 'find videos containing clips of each other'
# / 'audio containment' -> containment pairs + the packed frame-hash
# band snapshot; 'flag the new videos sharing frames with the
# snapshot at /p' -> batch probe of that store. The probe wording
# ('sharing ... snapshot') is disjoint from the media probes'
# 'against ... snapshot', but the probe regex still runs FIRST so a
# combined phrasing routes to the more specific target
_CONTAIN_PROBE_RE = re.compile(
    r"\b(?:flag|probe|check)\b[^.]*\b(videos?|audio(?:\s+clips?)?)\b"
    r"[^.]*\bsharing\b[^.]*\b(?:frames?|windows?|segments?)\b"
    r"[^.]*\bsnapshot\b")
_CONTAIN_RE = re.compile(
    r"\b(?:find|detect|match)\b[^.]*\b(videos?|audio(?:\s+clips?)?)\b"
    r"[^.]*\b(?:contain|sub-?clip|sharing\s+(?:frames?|windows?|"
    r"segments?))"
    r"|\b(video|audio)\s+containment\b")
_MIN_SHARED_RE = re.compile(
    r"\bat\s+least\s+(\d+)\s+(?:shared\s+)?"
    r"(?:frames?|windows?|segments?)\b")
_HAMMING_RE = re.compile(
    r"\bwithin\s+(\d+)\s+bits?\b|\bhamming\s+(?:of\s+)?(\d+)\b")


def derive_n_clusters(n_docs: int, target_cluster_size: int = 2_000) -> int:
    """Corpus-proportional SemDeDup cluster count: per-cluster pair
    work is |cluster|², so holding the TARGET CLUSTER SIZE constant
    (not the cluster count) keeps total pair work linear in the
    corpus — n/2k clusters of ~2k docs is ~2k·n pairs at any scale,
    where a fixed count would be n²/k. The 16 floor keeps tiny test
    corpora from degenerating to one cluster; the SemDeDup paper's
    50k clusters on a ~10⁸-doc corpus sits on the same curve."""
    return max(16, int(n_docs) // max(1, target_cluster_size))


def derive_n_buckets(n_docs: int, docs_per_bucket: int = 4_000,
                     floor: int = 8) -> int:
    """Corpus-proportional packing bucket count:
    ``pack_sequences``/``pack_chunks`` run ONE shuffle whose task
    count IS ``n_buckets`` (each bucket is an independent packing
    stream — ``operators/packing.py``), so a fixed default caps a
    1000-executor cluster at single-digit parallelism while each of
    the 8 tasks walks 1/8th of a 100× corpus. Holding DOCS PER
    BUCKET constant instead keeps per-task work flat at any corpus
    size — the same curve as :func:`derive_n_clusters`.

    Bucket count participates in the output's deterministic identity
    (docs hash into streams by ``hash32(id||salt) % n_buckets``, and
    each bucket drops its own trailing partial sequence), so it
    derives from the CORPUS — same corpus, same buckets, same packed
    rows — and never from cluster topology like
    ``defaultParallelism``. The floor preserves the historical small-
    corpus default; a user who names a count keeps it verbatim."""
    return max(floor, int(n_docs) // max(1, docs_per_bucket))


def parse_dataops_query(query: str) -> Optional[dict]:
    """NL corpus-curation query -> typed parameter dict, or None when
    the query carries no dataops intent. Targets, matched in
    priority order:

    - ``ingest_crawl`` — 'extract text from the crawl at <path>' /
      'ingest the warc archive at <path>' (WARC records -> rendered
      text via html_to_lines -> documents-shaped parquet; the web
      front door);
    - ``ingest_pdfs`` — 'extract text from the pdfs at <path>'
      (PDF files -> metadata + content-stream text ->
      documents-shaped parquet; the document front door beside the
      WARC one — rejected with an actionable reason without a path);
    - ``corpus_diff`` — 'diff ... against the snapshot at <path>'
      (data-versioning; requires a filesystem path, bound to
      ``snapshot_path`` — None when the phrase names no path, which
      the orchestrator rejects with an actionable reason);
    - ``corpus_census`` — 'census the corpus' / 'report corpus
      statistics' (mergeable per-stratum doc/token/char counts —
      the standalone face of the snapshot-store telemetry);
    - ``ingest_archives`` — 'extract text from the zip at <path>' /
      'ingest the tarball at <path>' (per-member text tiers,
      zip-bomb caps counted in the report);
    - ``data_card`` — 'generate a data card for the corpus'
      (Datasheets-for-Datasets: composition/lengths/duplication/
      quality/licensing/media in one nested report + artifact);
    - ``verify_shards`` — 'verify the shards at <path> against the
      manifest at <path>' (order-insensitive integrity check);
    - ``cluster_corpus`` / ``cluster_assign`` — 'cluster the
      embeddings into 12 topics' / 'assign the batch to the
      clusters at <path>' (k-means data map + frozen-centers
      assign lifecycle);
    - ``decontaminate`` — 'decontaminate the corpus against the
      benchmark at <path>' (n-gram shingle-overlap removal by
      default; 'semantically' / 'by embedding' swaps in the
      cosine-threshold path over the embeddings table; requires a
      benchmark path, rejected with an actionable reason without
      one);
    - ``decontaminate_spans`` — 'remove benchmark passages from the
      corpus against the benchmark at <path> (windows of 20
      tokens)' (span-surgical: the leaked run is cut, the document
      survives; 'flag'/'find' report the span table);
    - ``tokenize_pack`` — 'tokenize the corpus and pack 512-token
      sequences' (train BPE → encode to ids → fixed-length
      input_ids rows; optional 'N merges', 'N shards' for the
      bucket count; 'with the tokenizer at /path' loads the
      persisted artifact instead of retraining);
    - ``tokenizer_train`` — 'train a bpe|unigram tokenizer on the
      corpus, 300 merges, and save it' (the train-once artifact:
      merge/piece table persists at the output, reloads
      bit-identically into tokenize_pack);
    - ``classifier_train`` / ``classifier_score`` — 'train a
      quality classifier on the corpus and save it' then 'score
      the corpus with the classifier at /path' (Q7 gopher-weak-label
      logistic pipeline, Spark ML native save/load; degenerate
      one-class corpora reject);
    - ``split_corpus`` — 'split the corpus into train/val/test
      80/10/10 without leakage' (deterministic salted-hash split;
      'leakage' upgrades to near-dup-component-atomic assignment);
    - ``ann_index_append`` — 'append the new vectors to the index at
      <path>' (epoch-N+1 encode against the frozen store, codes
      parquet-append; requires an index path);
    - ``ann_index_build`` — 'build an ann index over the embeddings,
      64 lists, with an opq rotation' (fit once, persist the complete
      centers/books/codes/rotation store; list count derives as
      sqrt(n) when unnamed);
    - ``ann_recall`` — 'estimate the recall of the ann index at
      /path, top 10, probing 4 lists, sampling 64 queries' (recall@k
      of the persisted store against the exact squared-L2 scan over
      a deterministic query sample — the drift monitor for when to
      raise n_probe or rebuild; requires an index path);
    - ``tokenizer_stats`` — 'report tokenizer stats with the
      tokenizer at /path' / 'tokenizer fertility per language'
      (per-language fertility = subword tokens per word + chars-per-
      token compression from the persisted BPE/unigram store — the
      artifact-validation numbers; kind inferred from the store's
      own columns, path required);
    - ``ann_tune`` — 'tune the ann index at /path for recall 0.9'
      (double n_probe against the recall telemetry until the sampled
      recall@k meets the target or probing is exhaustive; the
      (n_probe, recall) curve lands at the sink, target_met=false
      when ADC quantization caps below the target);
    - ``ann_search`` — 'find the 10 nearest neighbors' / 'similarity
      search' (IVF-PQ self-kNN over the embeddings table with exact
      rerank; 'with an opq rotation' opts into the parametric OPQ
      rotation and reports its reconstruction-MSE delta);
    - ``retrieve`` — 'search the corpus for "hash join", top 5' /
      'retrieve the best documents for "x"' (BM25 lexical top-k over
      the documents table, one quoted string per query; rejected
      with an actionable reason when no quoted query is present;
      '... the index at /path' probes the persisted BM25 store at
      query cost instead of rescanning the corpus);
    - ``hybrid_search`` — 'find documents like doc 42 using both
      keywords and embeddings, top 5' (two-tower more-like-this:
      the named docs' text feeds BM25, their embeddings feed exact
      cosine, reciprocal-rank fused; self-hits dropped);
    - ``bm25_index_build`` — 'build a retrieval index over the
      corpus' (persist tok-sorted postings + df/dl/stats; the
      lexical twin of the ANN index build);
    - ``bm25_index_append`` — 'add the new documents to the
      retrieval index at /path' (batch-cost epoch grow: postings
      append, df/stats delta rows fold at search time — scores
      equal a full rebuild exactly);
    - ``corpus_store_build`` / ``corpus_upsert`` — 'build a
      bucketed corpus store, 32 buckets' then 'upsert the batch
      into the corpus store at /path' (hash-bucketed MERGE INTO:
      batch rows replace same-key rows and insert otherwise; only
      buckets holding batch keys rewrite — untouched directories
      stay byte-identical; the merge report flags geometry growth
      past ~4x the derive curve);
    - ``corpus_rebucket`` — 'rebucket the corpus store at /path'
      (re-derive the bucket count from CURRENT rows and rewrite to
      the run's output — never in place; restores constant
      rows/bucket after merge-driven growth so merges stay
      batch-cost);
    - ``webdataset_write`` — 'export the corpus as webdataset, 8
      shards' / 'write the corpus to webdataset shards at 64 mb'
      (tar-shard export for streaming training loaders:
      ``{key}.json``/``{key}.txt`` members in byte-deterministic
      ``shard-%06d.tar`` files with a per-shard sha256 manifest;
      shard count derives from corpus bytes when unnamed; 'export
      the images/media as webdataset' ships the media table's
      payload bytes instead, extensions sniffed from container
      magic; 'verify ... shards' stays on the manifest-check
      route);
    - ``semantic_dedup`` — 'semantically dedup ...' / 'dedup by
      embedding' (SemDeDup over the embeddings table; optional
      'threshold 0.9', 'N clusters', 'lowest id' keep policy);
    - ``incremental_dedup`` — 'dedup the batch against the seen
      snapshot at <path>' (continuous-ingest exact dedup vs a
      persisted (id, key) content snapshot; 'with a bloom filter'
      opts into the broadcast pre-filter — same answer, ~fpp of the
      batch through the anti-join; the updated snapshot lands next
      to the fresh rows);
    - ``substring_dedup`` — 'remove duplicated passages across the
      corpus (windows of 50 tokens)' (cross-document ExactSubstr
      dedup: verbatim >=w-token runs keep their first occurrence and
      are cut everywhere else; 'flag'/'find' phrasings report the
      span table without rewriting);
    - ``passage_snapshot`` / ``passage_probe`` — 'build a passage
      snapshot of the corpus' then 'flag duplicated passages
      against the passage snapshot at /path' (incremental
      ExactSubstr: batch-cost probe of the persisted distinct
      window hashes with the snapshot's OWN window geometry;
      '... and update the snapshot' appends the batch's fresh
      hashes — epoch grow);
    - ``link_graph_build`` — 'build the link graph from the crawl
      at /path' (WARC pages -> href extraction -> distinct
      (src, dst) registered-domain edges; feeds domain_rank);
    - ``domain_rank`` — 'rank the domains by the link graph at
      /path, 10 iterations' (PageRank over a persisted (src, dst)
      domain edge table, or HyperBall harmonic centrality with 'by
      harmonic centrality' — the crawl-curation quality priors;
      top-10 domains inline in the report);
    - ``compact_store`` — 'compact the snapshot at /path' (rewrite
      an append-grown store into the run's output: distinct keys,
      range-sorted files sized from the deduped count — key/sort
      columns infer from the store's own schema);
    - ``license_scan`` — 'license audit the corpus' / 'scan the
      corpus for licenses, dropping copyleft and restricted
      documents' (per-doc marker flags + most-restrictive class;
      with a drop list the kept documents land instead, per-class
      counts inline either way);
    - ``bin_pack`` — 'bin pack the corpus into bins of 1024 tokens
      without truncation' (truncation-free FFD packing: every doc
      whole, no bin over budget, oversize docs isolated; per-bucket
      bins-vs-lower-bound and waste stats in the report);
    - ``embed_documents`` — 'embed the documents, 128 dimensions'
      (deterministic hashed random-projection embeddings; write to
      <dir>/embeddings.parquet and every dense target chains off
      the output dir with no external encoder);
    - ``dsir_select`` — 'importance resample toward src18' / 'dsir
      select docs like <source>' (hashed-n-gram importance weights
      against an in-pool target domain; 'select'/'keep' narrows the
      output to above-pool-mean rows);
    - ``temperature_mix`` — 'flatten the language mix' /
      'temperature 0.3' (alpha sampling; strata = source when the
      query says source/domain, else lang);
    - ``unimax_mix`` — 'unimax the language mix with a budget of
      50000 tokens, at most 2 epochs' (epoch-capped uniform
      allocation; budget required, epoch cap defaults to 2, strata
      follows the temperature convention);
    - ``shuffle_order`` — 'shuffle the corpus for training, epoch 3'
      (deterministic global training order; epoch defaults to 0,
      'shard' phrasing stays on corpus_to_shards);
    - ``chunk_documents`` — 'chunk for RAG, size 256 stride 192'
      (RAG splitting; size/stride default to the operator's 128/96);
    - ``image_dedup`` / ``audio_dedup`` / ``video_dedup`` — 'dedup
      the images' / 'dedup the audio clips' / 'dedup the videos'
      (perceptual dHash/aHash/vHash dedup over the source dir's media
      table; kept rows + the banded fingerprint snapshot land at the
      sink; 'within N bits' tunes max_hamming, 'recovering hot
      buckets' opts into reband);
    - ``image_probe`` / ``audio_probe`` / ``video_probe`` — 'flag
      the new images|audio|videos against the snapshot at /path'
      (batch-cost probe of a persisted hamming snapshot with its own
      geometry; '... and update the snapshot' appends the batch's
      fresh fingerprints — epoch grow);
    - ``video_containment`` / ``audio_containment`` — 'find videos
      containing clips of each other' / 'audio containment'
      (sub-clip matching: per-frame dHash / onset-window aHash rows
      paired through the packed-id banding, rolled up per item pair;
      pairs + the packed band snapshot land at the sink; 'at least N
      frames|windows' tunes min_shared);
    - ``containment_probe`` — 'flag the new videos sharing frames
      with the snapshot at /path' (batch-cost probe of the packed
      containment store; '... and update the snapshot' appends the
      batch's fresh packed hashes);
    - ``band_snapshot`` — 'build a near-dup band snapshot of the
      corpus' (persist the documents table's MinHash band table in
      flood-proof represent mode — the text build face; 'at
      similarity 0.8' derives the banding geometry from the LSH
      parameter advisor's S-curve fit instead of the default 16x4,
      and later probes infer the geometry from the snapshot's own
      rows);
    - ``neardup_probe`` — 'flag near-duplicate documents against the
      band snapshot at /path' (batch-cost MinHash probe with cap
      telemetry; 'recovering hot buckets' → star policy; '... and
      update the snapshot' appends fresh band keys);
    - ``corpus_to_shards`` — everything else. Defaults match the
      registry query (budget 15k, seq 512, 4 shards); ``epoch N``
      binds a deterministic per-epoch shuffle salt; a "bpe" mention
      swaps the token counts feeding selection/packing for
      corpus-trained subword counts."""
    ql = query.lower()
    if not any(h in ql for h in _DATAOPS_HINTS):
        return None
    # snapshot-anchored targets outrank the bare crawl keyword: 'dedup
    # the crawl batch against the seen snapshot at /p' is incremental
    # dedup over crawl OUTPUT, not a fresh ingest — a crawl mention
    # only routes to ingest_crawl when no snapshot intent is present
    if _DIFF_TARGET_RE.search(ql) and ("snapshot" in ql
                                       or "previous" in ql):
        m = _SNAPSHOT_PATH_RE.search(query)   # paths keep their case
        return {"target": "corpus_diff",
                "snapshot_path": m.group(1) if m else None}
    if _COMPACT_RE.search(ql):
        mp = (_SNAPSHOT_PATH_RE.search(query)
              or _STORE_PATH_RE.search(query)
              or _INDEX_PATH_RE.search(query))
        return {"target": "compact_store",
                "store_path": mp.group(1) if mp else None}
    if _LICENSE_RE.search(ql):
        drop = []
        if m := _LICENSE_DROP_RE.search(ql):
            drop = sorted({g for g in m.groups() if g})
        return {"target": "license_scan", "drop": drop}
    if _BINPACK_RE.search(ql):
        budget = 1024
        if m := _BIN_BUDGET_RE.search(ql):
            budget = int(next(g for g in m.groups() if g))
        nb = None
        if m := _BUCKETS_RE.search(ql):
            nb = int(m.group(1))
        return {"target": "bin_pack", "budget": budget,
                "n_buckets": nb}
    if _EMBED_RE.search(ql):
        dim = int(m.group(1)) if (m := _DIM_RE.search(ql)) else 64
        return {"target": "embed_documents", "dim": dim}
    if _BAND_SNAPSHOT_BUILD_RE.search(ql):
        # 'at similarity 0.8' / 'threshold 0.8' opts into the LSH
        # parameter advisor (minhash_band_plan) instead of the
        # default 16x4 banding
        thr = None
        if m := (_SEM_THRESHOLD_RE.search(ql)
                 or _SIMILARITY_RE.search(ql)):
            thr = float(m.group(1))
        return {"target": "band_snapshot", "threshold": thr}
    if _NEARDUP_PROBE_RE.search(ql):
        m = _SNAPSHOT_PATH_RE.search(query)   # paths keep their case
        return {"target": "neardup_probe",
                "snapshot_path": m.group(1) if m else None,
                "hot_policy": ("star" if ("star" in ql
                                          or "recover" in ql)
                               else "drop"),
                "update": "update" in ql or "grow" in ql}
    if _PASSAGE_BUILD_RE.search(ql):
        w = 50
        if mw := _SUBSTR_WINDOW_RE.search(ql):
            w = int(mw.group(1))
        return {"target": "passage_snapshot", "window": w}
    if _DOMAIN_RANK_RE.search(ql) and ("link graph" in ql
                                       or "pagerank" in ql
                                       or "harmonic" in ql
                                       or "domain rank" in ql):
        m = _GRAPH_PATH_RE.search(query)     # paths keep their case
        ni = int(mi.group(1)) if (mi := _ITER_RE.search(ql)) else 10
        return {"target": "domain_rank",
                "edges_path": m.group(1) if m else None,
                # 'by harmonic centrality' swaps the power iteration
                # for the HyperBall sketch expansion (radius = the
                # iteration knob, default 8)
                "method": ("harmonic" if "harmonic" in ql
                           else "pagerank"),
                "n_iter": (ni if _ITER_RE.search(ql)
                           else (8 if "harmonic" in ql else 10))}
    if m := _SUBSTR_TARGET_RE.search(ql):
        # a snapshot mention routes to the incremental probe face
        if "snapshot" in ql:
            mp = _SNAPSHOT_PATH_RE.search(query)  # paths keep case
            return {"target": "passage_probe",
                    "snapshot_path": mp.group(1) if mp else None,
                    "update": "update" in ql or "grow" in ql}
        w = 50
        if mw := _SUBSTR_WINDOW_RE.search(ql):
            w = int(mw.group(1))
        return {"target": "substring_dedup", "window": w,
                # 'flag'/'find' report the span table; 'remove'/
                # 'strip'/'cut' rewrite the corpus
                "flag_only": m.group(1) in ("flag", "find")}
    if m := _CONTAIN_PROBE_RE.search(ql):
        modality = "audio" if "audio" in m.group(1) else "video"
        ms = 2
        if mm := _MIN_SHARED_RE.search(ql):
            ms = int(mm.group(1))
        m = _SNAPSHOT_PATH_RE.search(query)   # paths keep their case
        return {"target": "containment_probe", "modality": modality,
                "min_shared": ms,
                "snapshot_path": m.group(1) if m else None,
                "update": "update" in ql or "grow" in ql}
    if m := _CONTAIN_RE.search(ql):
        modality = ("audio" if "audio" in (m.group(1) or m.group(2))
                    else "video")
        ms = 2 if modality == "audio" else 3
        if mm := _MIN_SHARED_RE.search(ql):
            ms = int(mm.group(1))
        mh = 6
        if mm := _HAMMING_RE.search(ql):
            mh = int(next(g for g in mm.groups() if g))
        return {"target": f"{modality}_containment",
                "modality": modality, "min_shared": ms,
                "max_hamming": mh, "n_blocks": 8,
                "hot_policy": ("reband" if ("reband" in ql
                                            or "recover" in ql)
                               else "drop")}
    if m := _MEDIA_PROBE_RE.search(ql):
        modality = ("audio" if "audio" in m.group(1)
                    else "video" if "video" in m.group(1) else "image")
        m = _SNAPSHOT_PATH_RE.search(query)   # paths keep their case
        # '... and update the snapshot' additionally appends the
        # batch's FRESH (unflagged, within-batch-deduped) fingerprints
        # to the store — the epoch-grow step, like the Bloom/ANN stores
        return {"target": f"{modality}_probe",
                "modality": modality,
                "snapshot_path": m.group(1) if m else None,
                "update": "update" in ql or "grow" in ql}
    if m := _MEDIA_DEDUP_RE.search(ql):
        noun = m.group(1) or m.group(2)
        modality = ("audio" if "audio" in noun
                    else "video" if "video" in noun else "image")
        mh = 6
        if m := _HAMMING_RE.search(ql):
            mh = int(next(g for g in m.groups() if g))
        # 'recovering hot buckets' / 'reband' opts over-cap buckets
        # into the skew-aware re-banding tier instead of dropping them
        return {"target": f"{modality}_dedup", "modality": modality,
                "max_hamming": mh, "n_blocks": 8,
                "hot_policy": ("reband" if ("reband" in ql
                                            or "recover" in ql)
                               else "drop")}
    if (("dedup" in ql or "deduplicate" in ql or "ingest" in ql)
            and "against" in ql and "snapshot" in ql):
        m = _SNAPSHOT_PATH_RE.search(query)
        return {"target": "incremental_dedup",
                "snapshot_path": m.group(1) if m else None,
                "bloom": "bloom" in ql}
    if _ARCHIVE_TARGET_RE.search(ql):
        # the container outranks its contents: 'the zip of pdfs at /p'
        # routes to the archive door, whose kernel applies the pdf
        # text tier per member anyway
        m = _ARCHIVE_PATH_RE.search(query)  # paths keep their case
        return {"target": "ingest_archives",
                "archive_path": m.group(1) if m else None}
    if _PDF_TARGET_RE.search(ql):
        m = _PDF_PATH_RE.search(query)     # paths keep their case
        return {"target": "ingest_pdfs",
                "pdf_path": m.group(1) if m else None}
    if _LINK_GRAPH_BUILD_RE.search(ql):
        m = _CRAWL_PATH_RE.search(query)   # paths keep their case
        return {"target": "link_graph_build",
                "crawl_path": m.group(1) if m else None}
    if _CRAWL_TARGET_RE.search(ql):
        m = _CRAWL_PATH_RE.search(query)   # paths keep their case
        return {"target": "ingest_crawl",
                "crawl_path": m.group(1) if m else None}
    if _WDS_RE.search(ql) and not _SHARD_VERIFY_RE.search(ql):
        ns = int(m.group(1)) if (m := _SHARDS_RE.search(ql)) else None
        mb = int(m.group(1)) if (m := _WDS_MB_RE.search(ql)) else 256
        # 'export the images/media/clips as webdataset' ships the
        # media table's payload bytes instead of document text
        media = bool(re.search(
            r"\b(?:images?|media|audio|clips?|videos?)\b", ql))
        return {"target": "webdataset_write", "n_shards": ns,
                "target_shard_mb": mb,
                "table": "media" if media else "documents"}
    if _SHARD_VERIFY_RE.search(ql) and not _DECONTAM_TARGET_RE.search(ql):
        # the decontam exclusion keeps 'check the corpus shards for
        # contamination against the benchmark at /b' on its intended
        # route — 'verify/check ... shards' alone is the manifest check
        sp = _SHARDS_PATH_RE.search(query)   # paths keep their case
        mp = _MANIFEST_PATH_RE.search(query)
        return {"target": "verify_shards",
                "shards_path": sp.group(1) if sp else None,
                "manifest_path": mp.group(1) if mp else None}
    if _DATACARD_TARGET_RE.search(ql):
        # 'generate a data card ... with the tokenizer at /path' adds
        # the TK4 fertility section: per-language tokens-per-word is
        # exactly the per-language coverage number a datasheet carries.
        # A named token budget ('... with a budget of 1000000 tokens,
        # at most 2 epochs') adds the SM10 suggested-mix section —
        # pure driver math over the census the card already collects.
        mt = _TOKENIZER_PATH_RE.search(query)  # paths keep their case
        budget = None
        if m := _UNIMAX_BUDGET_RE.search(ql):
            budget = int(next(g for g in m.groups() if g)
                         .replace(",", "").replace("_", ""))
        ep = 2
        if m := _UNIMAX_EPOCHS_RE.search(ql):
            ep = int(next(g for g in m.groups() if g))
        return {"target": "data_card",
                "tokenizer_path": mt.group(1) if mt else None,
                "mix_budget": budget, "mix_epochs": ep}
    if _CENSUS_TARGET_RE.search(ql):
        # 'with a length histogram' / 'length distribution' adds the
        # power-of-two token-length histogram sidecar; 'distinct'
        # adds the HLL distinct-fingerprint census (dup-rate telemetry)
        return {"target": "corpus_census",
                "histogram": ("histogram" in ql
                              or "distribution" in ql),
                "distinct": "distinct" in ql}
    if _DECONTAM_TARGET_RE.search(ql) or _BENCH_SPAN_RE.search(ql):
        m = _BENCH_PATH_RE.search(query)   # paths keep their case
        thr = (float(t.group(1))
               if (t := _SEM_THRESHOLD_RE.search(ql)) else 0.95)
        ov = int(t.group(1)) if (t := _OVERLAP_RE.search(ql)) else 3
        # 'at the passage level' / 'remove benchmark passages' ->
        # span-surgical decontamination: cut the leaked run, keep
        # the document (D19)
        if ("passage" in ql or "span" in ql
                or _BENCH_SPAN_RE.search(ql)):
            w = 20
            if mw := _SUBSTR_WINDOW_RE.search(ql):
                w = int(mw.group(1))
            return {"target": "decontaminate_spans",
                    "benchmark_path": m.group(1) if m else None,
                    "window": w,
                    "flag_only": ("flag" in ql or "find" in ql)}
        return {"target": "decontaminate",
                "benchmark_path": m.group(1) if m else None,
                "semantic": bool(_SEMANTIC_TARGET_RE.search(ql)),
                "threshold": thr, "min_overlap": ov}
    if _CLASSIFIER_SCORE_RE.search(ql):
        m = _CLASSIFIER_PATH_RE.search(query)  # paths keep their case
        return {"target": "classifier_score",
                "model_path": m.group(1) if m else None}
    if _CLASSIFIER_TRAIN_RE.search(ql):
        return {"target": "classifier_train"}
    if _TOKSTATS_RE.search(ql):
        mt = _TOKENIZER_PATH_RE.search(query)  # paths keep their case
        return {"target": "tokenizer_stats",
                "tokenizer_path": mt.group(1) if mt else None}
    if _TOKENIZER_TRAIN_RE.search(ql):
        merges = int(m.group(1)) if (m := _MERGES_RE.search(ql)) \
            else 200
        if m := re.search(r"\bvocab(?:ulary)?\s+(?:of\s+)?(\d+)\b",
                          ql):
            merges = int(m.group(1))
        return {"target": "tokenizer_train", "n_merges": merges,
                "model": ("unigram" if ("unigram" in ql
                                        or "sentencepiece" in ql)
                          else "bpe")}
    if _TOKENIZE_TARGET_RE.search(ql):
        seq = int(m.group(1)) if (m := _SEQ_LEN_RE.search(ql)) else None
        if seq is None:  # '512-token sequences' phrasing
            m = re.search(r"\b(\d+)[- ]token\b", ql)
            seq = int(m.group(1)) if m else 512
        merges = int(m.group(1)) if (m := _MERGES_RE.search(ql)) else 200
        # n_buckets=None -> corpus-derived at run time (the packing
        # shuffle's task count IS n_buckets; a fixed default is a
        # 100x-scale trap — see derive_n_buckets)
        nb = int(m.group(1)) if (m := _SHARDS_RE.search(ql)) else None
        mt = _TOKENIZER_PATH_RE.search(query)  # paths keep their case
        return {"target": "tokenize_pack", "seq_len": seq,
                "n_merges": merges, "n_buckets": nb,
                # 'with the tokenizer at /path' loads the persisted
                # artifact (kind inferred from its columns) instead
                # of retraining — the train-once contract
                "tokenizer_path": mt.group(1) if mt else None,
                # 'with a unigram model' / 'sentencepiece' swaps the
                # BPE trainer for the unigram-LM tokenizer (TK3)
                "model": ("unigram" if ("unigram" in ql
                                        or "sentencepiece" in ql)
                          else "bpe"),
                # 'with an eos separator' reserves the id just past
                # the vocab for the per-document delimiter
                "eos": "eos" in ql or "separator" in ql}
    if _SPLIT_TARGET_RE.search(ql):
        fr = _SPLIT_FRACS_RE.search(ql)
        if fr:
            a, b, c = (int(fr.group(i)) for i in (1, 2, 3))
            tot = a + b + c
            splits = {"train": a / tot, "val": b / tot, "test": c / tot}
        else:
            splits = {"train": 0.8, "val": 0.1, "test": 0.1}
        return {"target": "split_corpus", "splits": splits,
                "leak_safe": ("leak" in ql or "near-dup" in ql
                              or "near dup" in ql)}
    if _BM25_INDEX_APPEND_RE.search(ql):
        m = _INDEX_PATH_RE.search(query)   # paths keep their case
        return {"target": "bm25_index_append",
                "index_path": m.group(1) if m else None}
    if _REBUCKET_RE.search(ql):
        m = _STORE_PATH_RE.search(query)   # paths keep their case
        return {"target": "corpus_rebucket",
                "store_path": m.group(1) if m else None}
    if _UPSERT_RE.search(ql):
        m = _STORE_PATH_RE.search(query)   # paths keep their case
        return {"target": "corpus_upsert",
                "store_path": m.group(1) if m else None}
    if _STORE_BUILD_RE.search(ql):
        nb = int(m.group(1)) if (m := _BUCKETS_RE.search(ql)) else None
        return {"target": "corpus_store_build", "n_buckets": nb}
    if _ANN_TUNE_RE.search(ql):
        k = 10
        if m := _ANN_K_RE.search(ql):
            k = int(next(g for g in m.groups() if g))
        target = 0.9
        if m := _TARGET_RECALL_RE.search(ql):
            target = float(m.group(1))
        nq = 32
        if m := _SAMPLE_Q_RE.search(ql):
            nq = int(m.group(1))
        mi = _INDEX_PATH_RE.search(query)  # paths keep their case
        return {"target": "ann_tune", "k": k,
                "target_recall": target, "n_queries": nq,
                "index_path": mi.group(1) if mi else None}
    if _ANN_RECALL_RE.search(ql):
        k = 10
        if m := _ANN_K_RE.search(ql):
            k = int(next(g for g in m.groups() if g))
        # None when the query names no probe count: the handler then
        # prefers the store's tuned _meta sidecar over the static
        # default — an explicit 'probing N lists' always wins
        n_probe = None
        if m := _PROBES_RE.search(ql):
            n_probe = int(next(g for g in m.groups() if g))
        nq = 32
        if m := _SAMPLE_Q_RE.search(ql):
            nq = int(m.group(1))
        mi = _INDEX_PATH_RE.search(query)  # paths keep their case
        return {"target": "ann_recall", "k": k, "n_probe": n_probe,
                "n_queries": nq,
                "index_path": mi.group(1) if mi else None}
    if _ANN_INDEX_APPEND_RE.search(ql):
        m = _INDEX_PATH_RE.search(query)   # paths keep their case
        return {"target": "ann_index_append",
                "index_path": m.group(1) if m else None}
    if _ANN_INDEX_BUILD_RE.search(ql):
        nl = int(m.group(1)) if (m := _LISTS_RE.search(ql)) else None
        return {"target": "ann_index_build", "n_lists": nl,
                "opq": "opq" in ql or "rotation" in ql}
    if _BM25_INDEX_BUILD_RE.search(ql):
        return {"target": "bm25_index_build"}
    if _HYBRID_TARGET_RE.search(ql):
        k = 10
        if m := _ANN_K_RE.search(ql):
            k = int(next(g for g in m.groups() if g))
        ids = []
        if m := _LIKE_DOCS_RE.search(ql):
            ids = [int(x) for x in re.findall(r"\d+", m.group(1))]
        # '... using the ann index at /path' rides the PERSISTED
        # IVF-PQ store as the dense tower (probed-lists cost instead
        # of a corpus scan); n_probe resolves like the search face —
        # explicit 'probing N lists' > tuned _meta > default
        mi = _INDEX_PATH_RE.search(query)    # paths keep their case
        n_probe = None
        if m := _PROBES_RE.search(ql):
            n_probe = int(next(g for g in m.groups() if g))
        return {"target": "hybrid_search", "k": k, "doc_ids": ids,
                "index_path": mi.group(1) if mi else None,
                "n_probe": n_probe}
    if _RETRIEVE_TARGET_RE.search(ql):
        k = 10
        if m := _ANN_K_RE.search(ql):
            k = int(next(g for g in m.groups() if g))
        mi = _INDEX_PATH_RE.search(query)    # paths keep their case
        return {"target": "retrieve", "k": k,
                # 'search the index at /p for "..."' probes the
                # persisted BM25 store instead of rescanning
                "index_path": mi.group(1) if mi else None,
                # query strings keep their original case
                "queries": _QUOTED_RE.findall(query)}
    if _ANN_TARGET_RE.search(ql):
        k = 10
        if m := _ANN_K_RE.search(ql):
            k = int(next(g for g in m.groups() if g))
        # 'with an opq rotation' opts the index into the parametric
        # OPQ rotation — same exact-tier answers, tighter ADC; the
        # run reports the rotation's reconstruction-MSE delta.
        # '... using the ann index at /path' searches the PERSISTED
        # store instead of rebuilding (tuned n_probe from its _meta;
        # an explicit 'probing N lists' wins, the recall-face rule)
        mi = _INDEX_PATH_RE.search(query)  # paths keep their case
        n_probe = None
        if m := _PROBES_RE.search(ql):
            n_probe = int(next(g for g in m.groups() if g))
        return {"target": "ann_search", "k": k,
                "opq": "opq" in ql or "rotation" in ql,
                "index_path": mi.group(1) if mi else None,
                "n_probe": n_probe}
    if _SEMANTIC_TARGET_RE.search(ql):
        thr = (float(m.group(1))
               if (m := _SEM_THRESHOLD_RE.search(ql)) else 0.95)
        # n_clusters=None -> corpus-derived at run time (the SemDeDup
        # per-cluster pair join is quadratic in cluster size; a fixed
        # default is a 100x-scale trap — the paper runs 50k clusters)
        ncl = int(m.group(1)) if (m := _CLUSTERS_RE.search(ql)) else None
        return {"target": "semantic_dedup", "threshold": thr,
                "n_clusters": ncl,
                "keep": "min" if "lowest id" in ql else "far"}
    if _CLUSTER_ASSIGN_RE.search(ql):
        m = _CLUSTERS_PATH_RE.search(query)   # paths keep their case
        return {"target": "cluster_assign",
                "centers_path": m.group(1) if m else None}
    if _CLUSTER_TARGET_RE.search(ql):
        # n_clusters=None -> corpus-derived at run time (constant
        # target cluster size, same curve as SemDeDup)
        ncl = None
        if m := _CLUSTERS_RE.search(ql):
            ncl = int(m.group(1))
        elif m := _TOPICS_RE.search(ql):
            ncl = int(m.group(1))
        return {"target": "cluster_corpus", "n_clusters": ncl}
    if _DSIR_TARGET_RE.search(ql):
        m = _DSIR_SOURCE_RE.search(query)
        return {"target": "dsir_select",
                "target_source": m.group(1) if m else None,
                # 'select'/'keep' narrows output to docs weighing
                # above the POOL MEAN (integer-exact, calibration-free
                # — the absolute zero point shifts with smoothing
                # mass); otherwise the full weight vector ships
                "select": ("select" in ql or "keep" in ql)}
    if _SHUFFLE_TARGET_RE.search(ql) and "shard" not in ql:
        ep = int(m.group(1)) if (m := _EPOCH_N_RE.search(ql)) else 0
        return {"target": "shuffle_order", "epoch": ep}
    if _UNIMAX_TARGET_RE.search(ql):
        budget = None
        if m := _UNIMAX_BUDGET_RE.search(ql):
            budget = int(next(g for g in m.groups() if g)
                         .replace(",", "").replace("_", ""))
        ep = 2
        if m := _UNIMAX_EPOCHS_RE.search(ql):
            ep = int(next(g for g in m.groups() if g))
        strata = "source" if ("source" in ql or "domain" in ql) else "lang"
        return {"target": "unimax_mix", "budget": budget,
                "max_epochs": ep, "strata": strata}
    if _TEMP_TARGET_RE.search(ql):
        alpha = float(m.group(1)) if (m := _ALPHA_RE.search(ql)) else 0.5
        strata = "source" if ("source" in ql or "domain" in ql) else "lang"
        return {"target": "temperature_mix", "alpha": alpha,
                "strata": strata}
    if _CHUNK_TARGET_RE.search(ql) and "shard" not in ql:
        size = int(m.group(1)) if (m := _CHUNK_SIZE_RE.search(ql)) else 128
        stride = (int(m.group(1))
                  if (m := _CHUNK_STRIDE_RE.search(ql)) else None)
        return {"target": "chunk_documents", "size": size,
                "stride": min(stride, size) if stride else
                max(1, (size * 3) // 4)}
    # n_buckets=None -> corpus-derived at run time (derive_n_buckets);
    # an explicit 'N shards' keeps bucket count tied to the user's
    # shard count as before
    plan = {"target": "corpus_to_shards", "token_budget": 15_000,
            "seq_len": 512, "n_shards": 4, "n_buckets": None,
            "shuffle_salt": None,
            # 'with a manifest' opts into the per-shard integrity
            # manifest sidecar (one extra pass over the written data)
            "manifest": "manifest" in ql,
            "tokenizer": "bpe" if "bpe" in ql else "whitespace"}
    seq_m = _SEQ_LEN_RE.search(ql)
    if seq_m:
        plan["seq_len"] = int(seq_m.group(1))
    if m := _TOKEN_BUDGET_KEYED_RE.search(ql):
        plan["token_budget"] = int(re.sub(r"[,_]", "", m.group(1)))
    else:
        for m in _TOKEN_BUDGET_RE.finditer(ql):
            if seq_m and m.start() < seq_m.end() and seq_m.start() < m.end():
                continue    # the N in 'contexts of N tokens' is seq_len
            plan["token_budget"] = int(re.sub(r"[,_]", "", m.group(1)))
            break
    if m := _SHARDS_RE.search(ql):
        plan["n_shards"] = int(m.group(1))
        plan["n_buckets"] = max(4, plan["n_shards"])
    if m := _EPOCH_RE.search(ql):
        plan["shuffle_salt"] = f"epoch-{m.group(1)}"
    return plan
