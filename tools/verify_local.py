"""Local stand-in for the driver's correctness harness.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, compares row count, schema (column names), and an
order-insensitive value hash (columns sorted by name, rows sorted by repr).
The catalog cache is cleared after each query, as in ``bench.py``.

Usage: python tools/verify_local.py [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import os

SF_DIR = os.environ.get("VERIFY_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v):
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return repr(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main() -> int:
    import duckdb
    from cuml_spark.core.session import get_spark
    from cuml_spark.harness import ORACLES, QUERIES

    only = set(sys.argv[1:])
    spark = get_spark("verify_local")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    # VERIFY_SKIP: comma-separated names to skip — for oracles that are
    # computationally infeasible at a given SF (dbscan_cluster_sizes'
    # recursive-CC DuckDB replay runs >50 min at sf0.1; see SCALE.md
    # "Cross-scale oracle evidence"), NOT for failing queries
    skip = {
        s.strip() for s in os.environ.get("VERIFY_SKIP", "").split(",")
        if s.strip()
    }
    for unknown in sorted(skip - set(QUERIES)):
        print(f"WARN VERIFY_SKIP names no query: {unknown!r}")
    n_pass = n_fail = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        if name in skip:
            print(f"SKIP {name}: VERIFY_SKIP")
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        finally:
            # bench.py clears the cache after every query; so does this
            # sweep, so it checks the answers the benchmark times
            spark.catalog.clearCache()
        if name not in ORACLES:
            print(f"PASS {name}: rows-only ({len(srows)} rows, no oracle) [{time.time()-t0:.1f}s]")
            n_pass += 1
            continue
        try:
            rel = con.sql(ORACLES[name])
            ocols = rel.columns
            orows = [tuple(r) for r in rel.fetchall()]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema {sorted(scols)} != {sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} != {len(orows)}")
        if not problems:
            sh, oh = value_hash(scols, srows), value_hash(ocols, orows)
            if sh != oh:
                problems.append(f"hash {sh} != {oh}")
                # print first diffs for debugging
                o_sorted = sorted(map(str, orows))
                s_sorted = sorted(map(str, srows))
                for a, b in zip(s_sorted, o_sorted):
                    if a != b:
                        problems.append(f"first diff:\n  spark {a}\n  duck  {b}")
                        break
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows match [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
