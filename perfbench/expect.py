"""Regenerate perfbench/expected/query_mix.tsv, the per-query expectations
query_mix checks in every run (row count plus an order-insensitive content
digest, see harness/src/perfbench/Digest.scala).

Where a query has an oracle SQL, its expectation is DuckDB's answer over the
same fixture tables; otherwise it is the engine's own answer at the commit
the file was made from. A query whose engine answer differs from its oracle
is listed on stderr and keeps the oracle expectation, so it fails the check.

    python3 perfbench/expect.py          # from the repository root
"""

import decimal
import hashlib
import json
import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
CTX = decimal.Context(prec=8, rounding=decimal.ROUND_HALF_EVEN)


def canon_double(d):
    if math.isnan(d):
        return "NaN"
    if math.isinf(d):
        return "Infinity" if d > 0 else "-Infinity"
    if d == 0:
        return "0"
    return format(CTX.plus(decimal.Decimal(d)).normalize(), "f")


def canon(v):
    """Python twin of Digest.canon for the values DuckDB returns."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return canon_double(v)
    if isinstance(v, decimal.Decimal):
        return canon_double(float(v))
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    total = 0
    for r in rows:
        line = "|".join(canon(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(line.encode()).digest()[:8], "big")
    return len(rows), format(total % (1 << 64), "016x"), ",".join(sorted(names))


def main():
    out = os.path.join(run.HERE, "expected", "query_mix.tsv")
    record = os.path.abspath(os.path.join(run.build.build_dir(), "query_mix.record.tsv"))
    run.run_jvm("query_mix", 1, 0, 0, ["-Dperfbench.record=" + record])
    engine = {}
    with open(record) as fh:
        for line in fh:
            q, rows, dg, cols, _ = line.rstrip("\n").split("\t")
            engine[q] = (int(rows), dg, cols)
    with open(record + ".oracle.json") as fh:
        oracle = json.load(fh)
    db = duckdb.connect()
    data = run.data_dir()
    for t in TABLES:
        db.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    lines = [f"# query\trows\tdigest\tcolumns\tsource  (fixture {run.DATA_VERSION}; "
             "regenerate with python3 perfbench/expect.py)"]
    for q, got in engine.items():
        if q in oracle:
            cur = db.execute(oracle[q])
            names = [d[0] for d in cur.description]
            want = digest(names, cur.fetchall())
            if want != got:
                print(f"{q}: engine {got} differs from oracle {want}", file=sys.stderr)
            lines.append("\t".join([q, str(want[0]), want[1], want[2], "duckdb"]))
        else:
            lines.append("\t".join([q, str(got[0]), got[1], got[2], "engine"]))
    with open(out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(out)


if __name__ == "__main__":
    main()
