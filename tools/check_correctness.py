"""Local replica of the driver's correctness gate: run each Spark query
and its DuckDB oracle SQL at sf0.01, compare row count, column names, and
an order-insensitive value hash.  Usage:

    python tools/check_correctness.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import math
import sys

import duckdb

sys.path.insert(0, ".")
from unraveldocs_spark.drivercanon import describe_oracle, dtype_hazards  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        # Dtype-preserving: the round driver's pandas canonicalizer
        # stringifies floats as floats ("30.0"), so int-ifying whole
        # floats here would hide driver-only mismatches (the r3/r4
        # HUGEINT→float64 class).  repr = shortest round-trip — two
        # floats hash equal iff they are bit-identical, like the driver.
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_value(v[k])}" for k in sorted(v)) + "}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "asDict"):
        return canon_value(v.asDict())
    return str(v)


def frame_hash(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(canon_value(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return h.hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from tools.measure import session

    sqls = entry_mod.oracle_sql()
    registry = {
        name: {"builder": fn, "sql": sqls.get(name)}
        for name, fn in entry_mod.queries().items()
    }

    spark = session("correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    n_pass = n_fail = n_skip = 0
    for name, spec in registry.items():
        if only and name not in only:
            continue
        sql = spec.get("sql")
        try:
            sdf = spec["builder"](spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if sql is None:
            print(f"SKIP {name}: rows-only ({len(srows)} rows)")
            n_skip += 1
            continue
        try:
            cur = con.execute(sql)
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        # Driver-canon dtype gate: the driver's pandas pass widens
        # HUGEINT/DECIMAL to float64 and compares dtypes — a pair the
        # engines value-match but dtype-mismatch is a driver-only red.
        try:
            hazards = dtype_hazards(sdf.schema, describe_oracle(con, sql))
        except Exception as e:  # DESCRIBE failure on an otherwise-runnable SQL
            hazards = [f"DESCRIBE failed: {e}"]
        if hazards:
            problems.append("driver-canon dtype hazard: " + "; ".join(hazards))
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        if not problems:
            sh = frame_hash(scols, [[row[c] for c in scols] for row in srows])
            dh = frame_hash(dcols, drows)
            if sh != dh:
                problems.append("value-hash mismatch")
                # show first differing canonical line for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                ls = sorted(
                    "\x1f".join(canon_value(row[scols[i]]) for i in order_s)
                    for row in srows
                )
                ld = sorted(
                    "\x1f".join(canon_value(row[i]) for i in order_d) for row in drows
                )
                for a, b in zip(ls, ld):
                    if a != b:
                        problems.append(f"  spark:  {a[:200]}")
                        problems.append(f"  duckdb: {b[:200]}")
                        break
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print(p)
            n_fail += 1
        else:
            print(f"PASS {name} ({len(srows)} rows)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
