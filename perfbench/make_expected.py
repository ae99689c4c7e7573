#!/usr/bin/env python3
"""Regenerate perfbench/expected.json from the DuckDB oracle.

    python3 perfbench/make_expected.py

For every query of queries_small it runs the query's
oracle SQL in DuckDB over perfbench/data/<sf> and renders the result in
graft.Verify's canonical form (columns sorted by name, IEEE-754 bit-hex
doubles, plain decimals, epoch-microsecond timestamps, sorted rows; the
same rules as scripts/selfcheck.py --forensics), then stores its MD5 and
row count. Queries without oracle SQL keep the program's row count. It
exits non-zero if the program and the oracle disagree on any query.
"""
import datetime
import hashlib
import json
import math
import os
import struct
import sys
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        bits = struct.unpack(">Q", struct.pack(">d", v))[0]
        if math.isnan(v):
            bits = 0x7FF8000000000000
        return f"{bits:016x}"
    if isinstance(v, Decimal):
        return format(v, "f")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return str(math.floor(v.timestamp()) * 1_000_000 + v.microsecond)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(sorted(canon(k) + "=" + canon(x) for k, x in v.items())) + "}"
    return str(v)


def oracle_hash(sql, con):
    cols = sorted(con.sql(sql).columns)
    sel = ", ".join('"' + c.replace('"', '""') + '"' for c in cols)
    rows = sorted("|".join(canon(v) for v in r)
                  for r in con.sql(f"SELECT {sel} FROM ({sql})").fetchall())
    return hashlib.md5("\n".join(rows).encode()).hexdigest(), len(rows)


def main():
    dump = run.run_jvm(run.build(), ["--dump-queries"], run.cpus(), "expected")
    expected, bad = {}, []
    for sf, queries in sorted(dump.items()):
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(run.HERE, 'data', sf, t + '.parquet')}'")
        expected[sf] = {}
        for q, d in sorted(queries.items()):
            if d["sql"] is None:
                expected[sf][q] = {"hash": None, "rows": d["rows"]}
                continue
            h, rows = oracle_hash(d["sql"], con)
            expected[sf][q] = {"hash": h, "rows": rows}
            if h != d["hash"] or rows != d["rows"]:
                bad.append(f"{sf} {q}")
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    for b in bad:
        print(f"program and oracle disagree: {b}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
