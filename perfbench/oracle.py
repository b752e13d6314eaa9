"""Order-insensitive result hashes and the DuckDB reference for the
catalog operations.

A result is canonicalized by the repository's correctness gate
(``tools/check_correctness.canon``: columns sorted by name, every value
stringified, rows sorted); the hash is the SHA-256 of that frame's CSV
rendering. The DuckDB side runs the catalog's own
``ORACLES`` SQL over the generated parquet and is computed once per
seed and cached beside the inputs, never inside a timed region.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from pathlib import Path

import pandas as pd

from tools.check_correctness import canon

TABLES = ("documents", "embeddings")


def result_hash(df: pd.DataFrame) -> str:
    body = canon(df).to_csv(index=False, lineterminator="\n")
    return hashlib.sha256(body.encode()).hexdigest()


def oracle_hashes(input_dir: Path, queries: list[str], scratch: Path) -> dict:
    """{query: {"hash", "rows", "seconds"}} from DuckDB, cached in
    `input_dir/oracle.json`."""
    cache = input_dir / "oracle.json"
    done = json.loads(cache.read_text()) if cache.exists() else {}
    missing = [q for q in queries if q not in done]
    if not missing:
        return done
    import duckdb

    from voter_gateway_spark.queries import ORACLES

    scratch.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect(config={
        "threads": max(1, len(os.sched_getaffinity(0))),
        "temp_directory": str(scratch),
    })
    con.sql("SET enable_progress_bar = false")
    for t in TABLES:
        p = input_dir / f"{t}.parquet"
        if p.exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    for q in missing:
        t0 = time.perf_counter()
        exp = con.sql(ORACLES[q]).df()
        done[q] = {
            "hash": result_hash(exp),
            "rows": len(exp),
            "seconds": round(time.perf_counter() - t0, 3),
        }
    con.close()
    tmp = cache.with_suffix(".tmp")
    tmp.write_text(json.dumps(done, indent=1, sort_keys=True))
    os.replace(tmp, cache)
    return done
