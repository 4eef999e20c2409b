#!/usr/bin/env python3
"""DuckDB oracle check for the catalog_graph workload.

Compares each query result the benchmark wrote (<out>/<name>/*.parquet)
with the answer of the query's oracle SQL (<out>/oracle_sql.json) run in
DuckDB over the same parquet tables, with the comparator of
scripts/check.py (columns sorted by name, cells canonicalized, rows
compared as sorted multisets).

The DuckDB answers over the committed data are kept in
oracle_answers.json as digests, keyed by a digest of the SQL that
produced them, because running the oracle SQL takes longer than the
workload. A query whose SQL no longer matches its recorded digest is
answered by DuckDB live.

Usage, from the repository root:
    python3 perfbench/oracle.py <data_dir> <out_dir>            # check
    python3 perfbench/oracle.py <data_dir> <out_dir> --record   # re-record answers
"""
import glob
import hashlib
import importlib.util
import json
import sys
from pathlib import Path

ANSWERS = Path(__file__).resolve().parent / "oracle_answers.json"


def comparator(root: Path):
    spec = importlib.util.spec_from_file_location("check", root / "scripts" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def digest(check, df) -> dict:
    norm = check.normalize(df)
    rows = check.rows(norm)
    return {"columns": sorted(norm.columns), "rows": len(rows), "hash": sha("\n".join(rows))}


def duckdb_answers(check, data: Path, oracle: dict) -> dict:
    import duckdb
    con = duckdb.connect()
    for f in sorted(data.glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")
    return {name: dict(digest(check, con.execute(sql).df()), sql=sha(sql))
            for name, sql in sorted(oracle.items())}


def run(root: Path, data: Path, out: Path, record: bool = False) -> list:
    """Returns the failed comparisons (empty when every result matches)."""
    import pandas as pd
    check = comparator(root)
    oracle = json.loads((out / "oracle_sql.json").read_text())
    answers = json.loads(ANSWERS.read_text()) if ANSWERS.exists() else {}
    if record:
        answers = duckdb_answers(check, data, oracle)
        ANSWERS.write_text(json.dumps(answers, indent=1, sort_keys=True) + "\n")
    stale = {n: s for n, s in oracle.items()
             if n not in answers or answers[n]["sql"] != sha(s)}
    if stale:
        answers = dict(answers, **duckdb_answers(check, data, stale))
    problems = []
    for name in sorted(oracle):
        files = sorted(glob.glob(str(out / name / "*.parquet")))
        if not files:
            problems.append(f"{name}: no result written")
            continue
        got = digest(check, pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
        want = {k: answers[name][k] for k in got}
        if got != want:
            problems.append(f"{name}: result {got} differs from the oracle's {want}")
    return problems


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    bad = run(Path.cwd(), Path(args[0]), Path(args[1]), record="--record" in sys.argv)
    for b in bad:
        print("FAIL", b)
    print(f"{len(bad)} failures")
    sys.exit(1 if bad else 0)
