#!/usr/bin/env python3
"""Regenerates expected/batch.tsv: row count and order-insensitive digest of
each batch-workload query at sf0.1 and sf0.001.

    python3 e2ebench/expected/make_batch_expected.py <data> <oracle.json> <observed.tsv>

<data> holds the sf0.1/ and sf0.001/ table directories (run.py's --data).

<oracle.json> is the DuckDB SQL of the workload's queries, written by
`e2ebench.Main --dump-oracle <file>` (SparkEntry.oracleSql). For every query
that has one, the stored value is what DuckDB produces on the same parquet
tables, rendered by `digest()` below, which must stay identical to
src/Digest.scala. Queries without an oracle (approximate operators) take the
value the engine itself produced, from <observed.tsv> (`sf query rows
digest`, the "got" figures of a run's failed checks), and are marked as such.
The script prints the file to standard output and lists, on standard error,
every oracle query where the engine's observed value differs from DuckDB's.
"""
import datetime
import decimal
import hashlib
import json
import math
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SCALES = ["sf0.1", "sf0.001"]


def dec(d):
    q = d.quantize(decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_EVEN)
    return "0" if q == 0 else format(q.normalize(), "f")


def canon(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return dec(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return dec(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        if set(v.keys()) == {"key", "value"} and isinstance(v["key"], list):
            pairs = sorted(canon(k) + "=" + canon(x) for k, x in zip(v["key"], v["value"]))
            return "{" + ",".join(pairs) + "}"
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    raise TypeError(f"no canonical form for {type(v)}: {v!r}")


def digest(rows):
    total = 0
    for r in rows:
        h = hashlib.md5("|".join(canon(x) for x in r).encode("utf-8")).digest()
        total = (total + int.from_bytes(h[:8], "big")) % (1 << 64)
    return len(rows), f"{total:016x}"


def duck(sf_dir, sql):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    cols = sorted(con.sql(sql).columns)
    rows = con.execute(f"SELECT {', '.join(cols)} FROM ({sql})").fetchall()
    return digest(rows)


def main():
    data, oracle = sys.argv[1], json.load(open(sys.argv[2]))
    observed = {}
    for line in open(sys.argv[3]):
        sf, q, rows, dg = line.split()
        observed[(sf, q)] = (int(rows), dg)
    print("# scale\tquery\trows\tdigest\tsource")
    for sf in SCALES:
        for (_, q) in sorted(k for k in observed if k[0] == sf):
            if q in oracle:
                rows, dg = duck(f"{data}/{sf}", oracle[q])
                src = "duckdb-" + duckdb.__version__
                if (rows, dg) != observed[(sf, q)]:
                    print(f"MISMATCH {sf} {q}: engine {observed[(sf, q)]} duckdb {(rows, dg)}",
                          file=sys.stderr)
            else:
                (rows, dg), src = observed[(sf, q)], "engine-recorded"
            print(f"{sf}\t{q}\t{rows}\t{dg}\t{src}")


if __name__ == "__main__":
    main()
