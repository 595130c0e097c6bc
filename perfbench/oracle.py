#!/usr/bin/env python3
"""Record the DuckDB oracle digests the ``registry_mix`` workload checks
against.

    python3 perfbench/oracle.py            # rewrite perfbench/data/digests.json
    python3 perfbench/oracle.py --check    # compare, exit 1 on a difference

Each digest is ``fixtures.digest`` of the row's oracle SQL
(``standard.oracle_sql()``) run by DuckDB over the tables in
``perfbench/data/sf0.01``.  A benchmark run only reads the recorded file, so
it needs no DuckDB."""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent)]

from perfbench import fixtures  # noqa: E402
from perfbench.registry import DIGESTS, ROWS, TABLES_DIR  # noqa: E402


def oracle_digests() -> dict[str, str]:
    import duckdb

    from trafficbigdatasearch_spark.queries import standard

    con = duckdb.connect()
    try:
        for path in sorted(TABLES_DIR.glob("*.parquet")):
            con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM '{path}'")
        sql = standard.oracle_sql()
        return {q: fixtures.digest(con.execute(sql[q]).df()) for q in ROWS}
    finally:
        con.close()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--check", action="store_true", help="compare instead of rewriting")
    args = ap.parse_args()
    got = oracle_digests()
    if not args.check:
        DIGESTS.write_text(json.dumps(got, indent=2, sort_keys=True) + "\n")
        return 0
    want = json.loads(DIGESTS.read_text())
    bad = sorted(q for q in ROWS if want.get(q) != got[q])
    for q in bad:
        print(f"{q}: recorded {want.get(q)}, DuckDB {got[q]}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
