#!/usr/bin/env python3
"""Regenerate the expected per-query result digests from the DuckDB oracle.

    python3 perfbench/oracle_digests.py [sf0.01|sf0.001]

Builds the harness like `run.py`, dumps `SparkEntry.oracleSql` to JSON,
runs every query in DuckDB over the benchmark's fixture copy and writes
`perfbench/expected/<sf>.json`. The digest is the one `Digest.scala`
computes over Spark's collected rows, with the comparison rules of
`scripts/selfcheck.py`: columns sorted by name, rows as a multiset, floats
by IEEE bit pattern, NaN canonical, and HUGEINT never equal to a Spark
integer (the repository's oracle gate treats that width drift as a
mismatch).
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import struct
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_TZ = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
MICRO = datetime.timedelta(microseconds=1)


def render(v, huge=False):
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return "b:True" if v else "b:False"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else "f:" + struct.pack(">d", v).hex()
    if isinstance(v, int):
        return ("h:%d" if huge else "v:%d") % v
    if isinstance(v, decimal.Decimal):
        return "d:" + format(v, "f")
    if isinstance(v, str):
        return "v:" + v
    if isinstance(v, datetime.datetime):
        base = EPOCH_TZ if v.tzinfo is not None else EPOCH
        return "t:%d" % ((v - base) // MICRO)
    if isinstance(v, datetime.date):
        return "D:" + v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x:" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(render(x) for x in v.values()) + "}"
    return "v:" + str(v)


def sha(s):
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def digest(columns, types, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    huge = [t in ("HUGEINT", "UHUGEINT") for t in types]
    hashes = sorted(sha("\x1f".join(render(r[i], huge[i]) for i in order)) for r in rows)
    return sha("\x1f".join(sorted(columns)) + "\n" + "\n".join(hashes))


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else run.SF
    data = os.path.join(run.HERE, "data", sf)
    target = os.path.join(run.HERE, "expected", sf + ".json")
    cp = run.build()
    sql_path = os.path.join(run.BUILD, "oracle_sql.json")
    log = os.path.join(run.BUILD, "oracle_sql.log")
    if run.run_jvm(cp, "perfbench.OracleSql", [sql_path], log, 300) != 0:
        run.die("could not dump the oracle SQL; log in " + log)
    with open(sql_path) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    digests = {}
    for name in sorted(sqls):
        rel = con.sql(sqls[name])
        digests[name] = digest(rel.columns, [str(t) for t in rel.types], rel.fetchall())
    out = {"oracle": "duckdb " + duckdb.__version__, "data": sf,
           "command": "python3 perfbench/oracle_digests.py " + sf, "digests": digests}
    os.makedirs(os.path.dirname(target), exist_ok=True)
    with open(target, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(digests)} digests to {os.path.relpath(target, run.ROOT)}")


if __name__ == "__main__":
    main()
