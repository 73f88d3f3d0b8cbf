"""DuckDB answers for the generated operations, digested exactly as the JVM
driver digests its collected results (perfbench/Digest in Telemetry.scala).

The comparison follows the repository's byte-parity rules
(tools/check_oracle.py): columns matched by name, rows as a multiset, and
floating values compared bit for bit after folding -0.0 into +0.0 — the
NegZero convention of the query ledger. A value compare within a tolerance
would hide exactly the last-bit drift the ledger's checks exist to catch.
"""
import decimal
import hashlib
import os
import struct

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "documents", "embeddings"]


def _bits(x):
    if x != x:
        return "NaN"
    return struct.pack(">d", float(x) + 0.0).hex()


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, decimal.Decimal)):
        return _bits(float(v))
    if isinstance(v, str):
        return v.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\t".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in ["\t".join(columns[i] for i in order)] + lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return len(rows), h.hexdigest()


class Oracle:
    def __init__(self, data_dir):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def answer(self, sql):
        """(row count, digest) of the oracle result."""
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return digest(cols, cur.fetchall())

    def close(self):
        self.con.close()
