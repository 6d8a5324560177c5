"""Regenerate ``oracle_values.json``: the DuckDB oracle result of each
``operators`` query on the sf0.01 tables in ``data/sf0.01``.

    python3 perfbench/regen_oracle.py

For each query it records the row count and the order-insensitive value
hash of ``tools/check_correctness.py`` (same canonicalization), computed
from the repository's oracle SQL run by DuckDB.  It also runs the Spark
query once and refuses to write the file if any query disagrees, so the
recorded values are ones the program is known to match.  The file also
records the digest of the tables, which every ``operators`` run checks.
Rerun it only when the tables or a query's semantics change.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]


def main() -> int:
    import duckdb

    import __spark_entry__ as entry
    from tools.check_correctness import TABLES, frame_hash
    from unraveldocs_spark.session import build_session
    from workloads import QUERIES, SF_DIR, tables_digest

    sqls = entry.oracle_sql()
    builders = entry.queries()
    out = {}
    bad = []
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    spark = build_session("perfbench-regen", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for q in QUERIES:
            cur = con.execute(sqls[q])
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            out[q] = {"rows": len(rows), "hash": frame_hash(cols, rows)}
            sdf = builders[q](spark, SF_DIR)
            srows = sdf.collect()
            values = [[r[c] for c in sdf.columns] for r in srows]
            sh = frame_hash(sdf.columns, values)
            ok = len(srows) == len(rows) and sh == out[q]["hash"]
            print(f"{'PASS' if ok else 'FAIL'} {q}: {len(rows)} rows", flush=True)
            if not ok:
                bad.append(q)
    finally:
        spark.stop()
    if bad:
        print(f"spark and duckdb disagree on {bad}; not writing", file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "oracle_values.json"), "w") as f:
        json.dump({"tables_digest": tables_digest(SF_DIR), "queries": out}, f,
                  indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
