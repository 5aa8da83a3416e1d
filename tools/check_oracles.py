"""Local replica of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir,
compare row count, column names, and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]

A full sweep (no query filter) also writes ORACLE_SWEEP.json at the repo
root: per query pass (null when it has no oracle), rows, engine and
oracle seconds, plus the git HEAD sha and the tracked files that
differed from it. A filtered run prints only, so it never overwrites the record
of a full sweep.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry
from ny_campaign_finance_dedupe_spark.operators import dedup as _dedup
from ny_campaign_finance_dedupe_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # full precision: the driver's value-hash is bit-sensitive, so a
        # 9-sig-digit local compare can pass where the driver fails
        # (run_stats did exactly that in round 1)
        return f"{v:.17g}"
    return str(v)


def rows_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


# The driver's value-hash canonicalizes all signed ints <= 64 bits the
# same way (r02 evidence: i32-vs-i64 rank columns hash-green) but NOT
# int128 (DuckDB HUGEINT from SUM(BIGINT) — run_stats hash-red in r02),
# so widths <= 64 collapse to one bucket and HUGEINT stays distinct.

def canon_spark_type(t: str) -> str:
    t = t.lower()
    if t.startswith("decimal"):
        return "decimal"
    if t.startswith("array"):
        return "list"
    return {
        "bigint": "int", "int": "int", "smallint": "int", "tinyint": "int",
        "double": "f64", "float": "f32", "string": "str", "boolean": "bool",
        "date": "date", "timestamp": "ts", "timestamp_ntz": "ts",
        "binary": "bytes",
    }.get(t, t)


def canon_duck_type(t: str) -> str:
    t = str(t).upper()
    if t.startswith("DECIMAL"):
        return "decimal"
    if t.endswith("[]") or t.startswith("LIST") or t.startswith("STRUCT("):
        return "list"
    return {
        "BIGINT": "int", "INTEGER": "int", "SMALLINT": "int",
        "TINYINT": "int",
        "HUGEINT": "i128",  # never matches Spark: SUM(BIGINT) needs a CAST
        "UBIGINT": "u64", "UINTEGER": "u32",
        "DOUBLE": "f64", "FLOAT": "f32", "VARCHAR": "str", "BOOLEAN": "bool",
        "DATE": "date", "TIMESTAMP": "ts", "TIMESTAMP WITH TIME ZONE": "ts",
        "BLOB": "bytes",
    }.get(t, t)


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SWEEP_PATH = os.path.join(REPO, "ORACLE_SWEEP.json")


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True
    ).stdout


def write_sweep(sf_dir: str, results: dict) -> None:
    """Machine-readable record of one full sweep (see module docstring)."""
    changed = [
        ln[3:] for ln in _git("status", "--porcelain", "--untracked-files=no")
        .splitlines() if ln[3:] != os.path.basename(SWEEP_PATH)
    ]
    rec = {
        "head": _git("rev-parse", "HEAD").strip(),
        "tracked_changes_vs_head": changed,
        "sf_dir": sf_dir,
        "n_queries": len(results),
        "n_pass": sum(r["pass"] is True for r in results.values()),
        "n_fail": sum(r["pass"] is False for r in results.values()),
        "queries": results,
    }
    with open(SWEEP_PATH, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {SWEEP_PATH}")


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs = entry.queries()
    oracles = entry.oracle_sql()
    unknown = only - set(qs) if only else set()
    if unknown:
        # a misspelled filter must not produce a green run that checked
        # nothing ('0 failures' with every query skipped)
        print(f"ERROR: unknown query name(s): {sorted(unknown)}")
        print(f"known: {sorted(qs)}")
        sys.exit(2)
    failures = []
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        rec = results[name] = {
            "pass": False, "rows": None, "seconds": None,
            "oracle_seconds": None, "detail": None,
        }
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            _dedup.release(sdf)
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            rec["detail"] = f"spark error: {str(e)[:300]}"
            print(f"FAIL  {name}: spark error {str(e)[:200]}")
            continue
        rec["seconds"] = round(time.perf_counter() - t0, 3)
        rec["rows"] = len(srows)
        if sql is None:
            rec["pass"] = None
            print(f"ok    {name}: rows-only ({len(srows)} rows)")
            continue
        t0 = time.perf_counter()
        try:
            res = con.sql(sql)
            ocols = [c for c in res.columns]
            orows = res.fetchall()
        except Exception as e:
            failures.append((name, f"ORACLE ERROR: {e}"))
            rec["detail"] = f"oracle error: {str(e)[:300]}"
            print(f"FAIL  {name}: oracle error {str(e)[:200]}")
            continue
        rec["oracle_seconds"] = round(time.perf_counter() - t0, 3)
        problems = []
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
            problems.append(f"cols spark={scols} duck={ocols}")
        else:
            # type identity: the driver's value-hash canonicalizes by type, so
            # DuckDB HUGEINT vs Spark BIGINT hash-differs on identical values
            stypes = {c.lower(): canon_spark_type(t) for c, t in sdf.dtypes}
            otypes = {
                c.lower(): canon_duck_type(t)
                for c, t in zip(ocols, res.types)
            }
            tdiff = [
                (c, stypes[c], otypes[c])
                for c in stypes if stypes[c] != otypes[c]
            ]
            if tdiff:
                problems.append(f"types differ (col, spark, duck): {tdiff}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
        if not problems:
            sk = rows_key(srows, [c.lower() for c in scols])
            ok = rows_key(orows, [c.lower() for c in ocols])
            if sk != ok:
                diff = [
                    (a, b) for a, b in zip(sk, ok) if a != b
                ][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            failures.append((name, "; ".join(problems)))
            rec["detail"] = "; ".join(p[:300] for p in problems)
            print(f"FAIL  {name}: {rec['detail']}")
        else:
            rec["pass"] = True
            print(f"PASS  {name} ({len(srows)} rows)")
    print(f"\n{len(failures)} failures")
    if not only:
        write_sweep(sf_dir, results)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
