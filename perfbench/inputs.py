"""Seeded input generation for the benchmark.

Everything the engine sees is made here from the run's seed: the
scale-factor parquet tables the fixture fetcher and the dataops
targets read, the finance query stream and the serve request mix.
The same seed always yields byte-identical inputs; ``digest`` hashes
them so a run's output names exactly what it measured.

Tables follow the column layout of the engine's test data (the
``events`` stream, the ``documents`` corpus and its ``embeddings``).
Text is drawn from the same 30-word vocabulary, with injected
near-duplicate and exact-duplicate documents so the dedup arms find
real pairs.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")

TICKERS = ("AAPL", "MSFT", "AMZN", "GOOGL", "META", "TSLA", "NFLX",
           "UBER", "NVDA", "IBM")
# enrichment keyword in the query -> the feature (an orchestrator
# _DSL_DEFAULTS entry) the planner must list in the run's plan report
FEATURES = {
    "sma": "sma", "ema": "ema", "rsi": "rsi", "macd": "macd",
    "volatility": "rolling_vol", "atr": "atr", "bollinger": "bbands",
    "obv": "obv", "returns": "ret", "zscore": "zscore",
}
ECONOMIC = ("GDP", "CPI", "fed funds rate")
FUNDAMENTALS = ("income statement", "balance sheet")
NON_FINANCE = ("what is the weather in Paris tomorrow",
               "write a poem about the sea",
               "how do I bake sourdough bread",
               "translate hello into German")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent deterministic stream per input kind."""
    h = int.from_bytes(hashlib.sha256(f"{seed}:{stream}".encode())
                       .digest()[:8], "little")
    return np.random.default_rng(h)


# ---------------------------------------------------------------------------
# tables
# ---------------------------------------------------------------------------

def events_table(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "events")
    secs = np.sort(r.uniform(0, 30 * 86400, n))
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + (secs * 1e6).astype("int64").astype("timedelta64[us]"))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 1500, n, dtype="int64")),
        "event_type": pa.array(np.array(EVENT_TYPES)[
            r.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(r.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


def documents_table(seed: int, n: int) -> pa.Table:
    """n docs of 10-100 vocabulary words; ~5% are perturbed copies of
    an earlier doc (near-dups) and ~0.2% exact copies."""
    r = _rng(seed, "documents")
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        u = r.random()
        if i > 10 and u < 0.002:
            texts.append(texts[int(r.integers(0, i))])
        elif i > 10 and u < 0.05:
            words = texts[int(r.integers(0, i))].split()
            for _ in range(3):
                words[int(r.integers(0, len(words)))] = str(
                    vocab[r.integers(0, len(vocab))])
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[r.integers(
                0, len(vocab), int(r.integers(10, 101)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[r.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 10}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(seed: int, n: int, dim: int = 64) -> pa.Table:
    """n unit-norm random vectors with a 10-class label."""
    r = _rng(seed, "embeddings")
    x = r.standard_normal((n, dim)).astype("float32")
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n, dtype="int32")),
    })


def replicate(docs: pa.Table, factor: int, salt: str) -> pa.Table:
    """factor-f corpus the way ``tools/scale_wall.py`` builds it:
    replica i > 0 suffixes every word with ``~<salt><i>``, so replicas
    share no shingles and near-dup structure grows linearly."""
    ids = docs.column("doc_id").to_numpy()
    texts = docs.column("text").to_pylist()
    cols = {c: docs.column(c) for c in docs.column_names
            if c not in ("doc_id", "text")}
    parts = []
    for i in range(factor):
        text = texts if i == 0 else [
            " ".join(f"{w}~{salt}{i}" for w in t.split()) for t in texts]
        parts.append(pa.table({"doc_id": pa.array(ids * factor + i),
                               "text": pa.array(text), **cols}))
    return pa.concat_tables(parts)


def write_sf_dir(path: str, seed: int, *, n_events: int = 0,
                 n_docs: int = 0, n_vecs: int = 0, factor: int = 1) -> str:
    """Write the tables the finance and dataops paths read; the
    documents table is the factor-``factor`` replica of ``n_docs``."""
    os.makedirs(path, exist_ok=True)
    tables = {}
    if n_events:
        tables["events"] = events_table(seed, n_events)
    if n_docs:
        salt = f"{_rng(seed, 'salt').integers(0, 1 << 16):04x}"
        tables["documents"] = replicate(documents_table(seed, n_docs),
                                        factor, salt)
    if n_vecs:
        tables["embeddings"] = embeddings_table(seed, n_vecs)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))
    return path


def write_sf_dirs_apart(*dirs: tuple[str, int, dict]) -> None:
    """``write_sf_dir(path, seed, **sizes)`` for each of ``dirs`` in one
    child process, so the tables it builds never count toward the
    driver's peak memory."""
    subprocess.run([sys.executable, __file__, json.dumps(dirs)], check=True)


# ---------------------------------------------------------------------------
# request streams
# ---------------------------------------------------------------------------

# (tickers, enrichment features, extra request) per finance query. The
# seed picks the tickers, features and extras; the shapes are fixed, so
# every seed asks for the same amount of work. A plan fetches two bar
# sources per ticker, plus one statement per fundamentals ticker, plus
# one economic series. The engine integrates at most
# EngineConfig.max_dataframes = 10 fetched frames; OVER_CAP_SHAPE asks
# for 12, which the grammar allows and the engine fails on.
FINANCE_SHAPES = ((1, 2, None), (2, 1, "economic"), (4, 0, None),
                  (3, 3, "fundamentals"))
OVER_CAP_SHAPE = (4, 1, "fundamentals")
CORPUS_QUERY = "curate and dedup the corpus into 4 shards, sequence length 512"


def finance_query(r: random.Random, n_tickers: int, n_feats: int,
                  extra: str | None) -> dict:
    """One NL finance request and what its output must hold."""
    tickers = r.sample(TICKERS, n_tickers)
    kws = r.sample(sorted(FEATURES), n_feats)
    q = f"Get {', '.join(tickers)} daily stock prices"
    if kws:
        q += " with " + " and ".join(kws)
    if extra == "economic":
        q += f" and the {r.choice(ECONOMIC)}"
    elif extra == "fundamentals":
        q += f" plus the {r.choice(FUNDAMENTALS)}"
    return {"kind": "finance", "query": q, "tickers": sorted(tickers),
            "features": sorted(FEATURES[k] for k in kws)}


# Order the clients cycle through the distinct serve requests: the
# finance queries within the cap twice, except the slowest (1, with an
# economic series) to keep a run's length in budget; the rest once. It is fixed, not seeded, so every
# seed overlaps the same kinds of request under concurrency.
SERVE_CYCLE = (0, 1, 4, 2, 3, 6, 0, 5, 2, 8, 3, 7)


def serve_mix(seed: int) -> list[dict]:
    """Distinct serve requests: mostly finance queries, plus corpus
    census and license audit runs, a dry-run ``explain:``, a
    non-finance query and a finance query above the engine's cap."""
    r = random.Random(f"{seed}:serve")
    distinct = [finance_query(r, *shape) for shape in FINANCE_SHAPES]
    distinct += [
        {"kind": "dataops", "query": "census the corpus"},
        {"kind": "dataops", "query": "license audit the corpus"},
        {"kind": "explain", "query": f"explain: {CORPUS_QUERY}"},
        {"kind": "rejected", "query": r.choice(NON_FINANCE)},
        {**finance_query(r, *OVER_CAP_SHAPE), "over_cap": True},
    ]
    return distinct


def digest(obj, *files: str) -> str:
    """sha256 over a JSON-able object plus the bytes of files."""
    h = hashlib.sha256(json.dumps(obj, sort_keys=True).encode())
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


if __name__ == "__main__":
    for path, seed, sizes in json.loads(sys.argv[1]):
        write_sf_dir(path, seed, **sizes)
