#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Usage: check_oracle.py <verify_out_dir> <sf_dir>

For each query result parquet dumped by `graft.Verify` (one directory per
query under <verify_out_dir>), run the matching SQL from oracle_sql.json in
DuckDB against the raw parquet tables in <sf_dir>, then compare:
  - row count
  - column name set (sorted by name, like the driver)
  - values: rows sorted, floats via repr, NaN/None normalized

Each query prints one PASS/FAIL line as soon as it is decided, ending with
the seconds it took (the DuckDB oracle query plus the comparison).

Exit code 0 iff every query matches.
"""
import json
import math
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> list[tuple]:
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            if math.isnan(v):
                return "NULL"
            return repr(v)
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(norm(x) for x in v) + "]"
        try:
            if pd.isna(v):
                return "NULL"
        except (TypeError, ValueError):
            pass
        if hasattr(v, "tolist"):  # numpy scalars/arrays
            return norm(v.tolist())
        return str(v)

    rows = [tuple(norm(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows)


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    json_out = next(
        (a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--json=")),
        None,
    )
    out_dir, sf_dir = Path(args[0]), Path(args[1])
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    json_rows = {}

    con = duckdb.connect()
    for t in TABLES:
        p = sf_dir / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def judge(name: str) -> str:
        qdir = out_dir / name
        if not qdir.exists():
            return "MISSING (query did not run)"
        files = list(qdir.glob("*.parquet"))
        if not files:
            return "EMPTY OUTPUT DIR"
        got = pd.concat([pd.read_parquet(f) for f in sorted(files)])
        want = con.sql(oracle[name]).df()

        if sorted(got.columns) != sorted(want.columns):
            return (
                f"SCHEMA MISMATCH spark={sorted(got.columns)} duck={sorted(want.columns)}"
            )
        if len(got) != len(want):
            return f"ROWCOUNT MISMATCH spark={len(got)} duck={len(want)}"
        g, w = canon(got), canon(want)
        json_rows[name] = {
            "rows_match": len(got) == len(want),
            "schema_match": True,
            "hash_match": g == w,
            "spark_rows": len(got),
            "oracle_rows": len(want),
            "err": None,
        }
        if g != w:
            diff = next(
                (i, a, b) for i, (a, b) in enumerate(zip(g, w)) if a != b
            )
            return f"VALUE MISMATCH first diff at sorted row {diff[0]}:\n  spark={diff[1]}\n  duck ={diff[2]}"
        return f"OK ({len(got)} rows)"

    failures = []
    results = {}
    for name in sorted(oracle):
        t0 = time.perf_counter()
        status = results[name] = judge(name)
        elapsed = time.perf_counter() - t0
        ok = status.startswith("OK")
        if not ok:
            failures.append(name)
        # one line per query as soon as it is decided, so a redirected
        # run shows its progress; the query's seconds (DuckDB oracle plus
        # comparison) end its PASS/FAIL line
        first, sep, rest = status.partition("\n")
        print(
            f"{'PASS' if ok else 'FAIL'} {name}: {first} [{elapsed:.1f} s]{sep}{rest}",
            flush=True,
        )
    print(f"\n{len(results) - len(failures)}/{len(results)} queries match")
    if json_out:
        for name, status in results.items():
            if name not in json_rows:  # missing/schema/rowcount failures
                json_rows[name] = {
                    "rows_match": False,
                    "schema_match": not status.startswith("SCHEMA"),
                    "hash_match": False,
                    "spark_rows": None,
                    "oracle_rows": None,
                    "err": status.split("\n")[0],
                }
        Path(json_out).write_text(
            json.dumps(dict(sorted(json_rows.items())), indent=2) + "\n"
        )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
