#!/usr/bin/env python3
"""Expected answers of the pipeline queries, computed by DuckDB.

Runs each `<query>.sql` of <sql_dir> (the engine's own DuckDB oracle SQL)
over views of the tier's parquet tables and writes one line per query to
<out_tsv>: name, row count, order-insensitive digest. The digest is the
one `Canon.digest` computes on the Spark side: columns in name order,
integral numbers as integers, other floats by IEEE-754 bits, timestamps as
UTC epoch microseconds; per row the first 8 bytes of SHA-256 as a signed
64-bit integer, summed with wrap-around.

Usage: python3 oracle.py <tier_dir> <sql_dir> <out_tsv>
"""
import datetime
import decimal
import glob
import hashlib
import os
import struct
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def cell(v) -> str:
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v == int(v) and abs(v) < 9.007199254740992e15:
            return str(int(v))
        return format(struct.unpack("<Q", struct.pack("<d", v))[0], "x")
    if isinstance(v, decimal.Decimal):
        if v == 0:
            return "0"
        return format(v.normalize(), "f")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - EPOCH
        return str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return str((v - datetime.date(1970, 1, 1)).days)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    acc = 0
    for r in rows:
        s = "\u0001".join(cell(r[i]) for i in order)
        h = hashlib.sha256(s.encode("utf-8")).digest()
        acc = (acc + struct.unpack(">q", h[:8])[0]) & 0xFFFFFFFFFFFFFFFF
    return len(rows), format(acc, "x")


def main(tier: str, sql_dir: str, out: str) -> None:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tier}/{t}.parquet/*.parquet')")
    lines = []
    for path in sorted(glob.glob(os.path.join(sql_dir, "*.sql"))):
        name = os.path.basename(path)[:-4]
        cur = con.execute(open(path, encoding="utf-8").read())
        cols = [d[0] for d in cur.description]
        n, h = digest(cols, cur.fetchall())
        lines.append(f"{name}\t{n}\t{h}\n")
    with open(out + ".tmp", "w", encoding="utf-8") as f:
        f.writelines(lines)
    os.replace(out + ".tmp", out)


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: oracle.py <tier_dir> <sql_dir> <out_tsv>")
    main(*sys.argv[1:])
