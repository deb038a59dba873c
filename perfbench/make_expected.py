#!/usr/bin/env python3
"""Write ``expected.json``: the expected output digest of every workload key.

    python3 perfbench/make_expected.py

Each digest is taken from the key's DuckDB oracle over the sf0.1 tables.
The oracle of ``dedup_connected_components`` is a recursive CTE whose
reachability join grows with the cube of each near-duplicate cluster and
does not finish in reasonable time at sf0.1. For that key DuckDB computes the
oracle's edge set (the same exact-Jaccard rule) and a union-find in Python
closes it into components.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

from data_integration_exercise_spark.registry import oracle_sql  # noqa: E402
from perfbench.digest import frame_digest  # noqa: E402
from perfbench.workloads import WORKLOADS, data_dir  # noqa: E402
from tools.emulate_driver import TABLES  # noqa: E402

# The edge rule of the dedup_connected_components oracle, one row per pair.
_JACCARD_EDGES = """
    WITH sets AS (
        SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS s
        FROM documents
    )
    SELECT a.doc_id AS src, b.doc_id AS dst
    FROM sets a JOIN sets b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
"""


def _connected_components(con) -> pd.DataFrame:
    """Each document with the smallest doc_id reachable from it."""
    parent = {int(d): int(d) for (d,) in con.execute("SELECT doc_id FROM documents").fetchall()}

    def root(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for src, dst in con.execute(_JACCARD_EDGES).fetchall():
        a, b = root(int(src)), root(int(dst))
        if a != b:
            parent[max(a, b)] = min(a, b)  # every root is its set's smallest id
    comp = {d: root(d) for d in parent}
    return pd.DataFrame({
        "doc_id": list(comp),
        "component": list(comp.values()),
        "is_canonical": [d == c for d, c in comp.items()],
    })


REFERENCES = {"dedup_connected_components": _connected_components}


def main() -> int:
    oracles = oracle_sql()
    keys = sorted({k for keys in WORKLOADS.values() for k in keys})
    missing = [k for k in keys if k not in oracles]
    if missing:
        print(f"no DuckDB oracle for {missing}", file=sys.stderr)
        return 1
    con = duckdb.connect()
    data = data_dir()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    expected = {}
    for key in keys:
        t0 = time.perf_counter()
        if key in REFERENCES:
            frame = REFERENCES[key](con)
        else:
            frame = con.execute(oracles[key]).df()
        expected[key] = frame_digest(frame)
        print(f"{key}: {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    (HERE / "expected.json").write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
