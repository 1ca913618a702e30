#!/usr/bin/env python3
"""Regenerates perfbench/expected.json: the expected row count and
order-insensitive content hash of every checked query key, computed by
DuckDB from SparkEntry.oracleSql, and the expected REPL replies of the
harness statements in the `repl` stream.

Usage (from the repository root):
  python3 perfbench/gen_expected.py [--data DIR]

The hash matches perfbench/src/Check.scala: columns sorted by name, each
value rendered canonically, each row hashed with SHA-256, and the rows'
first 8 digest bytes summed modulo 2^64.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import math
import os
import subprocess
import sys

import duckdb

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import inputs  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def num(x):
    if isinstance(x, float):
        if math.isnan(x):
            return "NaN"
        if math.isinf(x):
            return "Inf" if x > 0 else "-Inf"
        if x == 0.0:
            return "0"
        # exact binary expansion, as java.math.BigDecimal(double) gives it
        return format(decimal.Decimal(x), "f")
    if x == 0:
        return "0"
    return format(x.normalize(decimal.Context(prec=200)), "f")


def canon(v):
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        return num(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + "\x02".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + "\x02".join(canon(x) for x in v) + "]"
    return str(v)


def result_hash(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: (columns[i], i))
    acc = 0
    for r in rows:
        line = "\x01".join(canon(r[i]) for i in order)
        d = hashlib.sha256(line.encode("utf-8")).digest()
        acc = (acc + int.from_bytes(d[:8], "big")) % (1 << 64)
    return format(acc, "016x")


def render(v):
    return "NULL" if v is None else str(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", default=inputs.DEFAULT_DATA)
    args = ap.parse_args()
    build.build()
    dump = os.path.join(build.OUT, "oracles.json")
    subprocess.run(["java", "-cp", build.classpath(), "perfbench.Main",
                    "oracles", dump], check=True)
    with open(dump) as f:
        src = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{args.data}/{t}.parquet')")
    out = {"olap": {}, "llm": {}, "repl_harness": {}}
    olap_keys = set(src["olap_keys"])
    for key, sql in src["oracles"].items():
        rel = con.sql(sql)
        rows = rel.fetchall()
        entry = {"rows": len(rows), "hash": result_hash(rel.columns, rows)}
        out["olap" if key in olap_keys else "llm"][key] = entry
        print(f"{key}: {entry['rows']} rows", file=sys.stderr)
    for sql in src["repl_harness_sql"]:
        out["repl_harness"][sql] = [
            "(" + ", ".join(render(v) for v in r) + ")"
            for r in con.sql(sql).fetchall()]
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
