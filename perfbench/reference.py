"""Reference row counts for the ``corpus_scale`` warm-up.

    python3 perfbench/reference.py      # rewrites perfbench/reference.json

The warm-up corpus is the same for every seed. This script builds it
and counts the rows of each corpus job with DuckDB, from the engine's
own oracle SQL (``__spark_entry__.oracle_sql``), so the reference does
not come from Spark. ``corpus_scale`` checks the engine's warm-up row
counts against the file in every set-up. It takes about a minute.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

import duckdb

import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORPUS = {"seed": 0, "docs": 40, "vectors": 40}
# corpus_scale job -> the oracle whose rows it must match; the NL
# curate target runs corpus_to_shards with its default parameters
ORACLES = {"curate": "corpus_to_shards",
           "dedup_neardup_pairs": "dedup_neardup_pairs",
           "text_corpus_stats": "text_corpus_stats"}


def main() -> None:
    sys.path.insert(0, ROOT)
    import __spark_entry__

    sql = __spark_entry__.oracle_sql()
    with tempfile.TemporaryDirectory(prefix=".perfbench-", dir=ROOT) as tmp:
        inputs.write_sf_dir(tmp, CORPUS["seed"], n_docs=CORPUS["docs"],
                            n_vecs=CORPUS["vectors"])
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            path = os.path.join(tmp, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{path}')")
        rows = {job: con.execute(f"SELECT count(*) FROM ({sql[q]})")
                .fetchone()[0] for job, q in ORACLES.items()}
        con.close()
    with open(os.path.join(HERE, "reference.json"), "w") as fh:
        json.dump({**CORPUS, "rows": rows}, fh, indent=1)
        fh.write("\n")
    print(rows)


if __name__ == "__main__":
    main()
