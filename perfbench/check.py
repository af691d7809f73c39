"""Output checks: DuckDB oracles and the row fingerprint the JVM side
(`scala/perfbench/HashSink.scala`) computes.

A fingerprint is the sorted column names, the row count, and the sum
modulo 2^64 of the first 8 bytes (little-endian) of each row's MD5, where a
row is its canonical values in sorted-column order joined by U+0001. It is
the comparison `tools/localcheck.py` makes, computed without writing the
result anywhere.
"""
import datetime as dt
import decimal
import hashlib
import os
import struct

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]
EPOCH = dt.datetime(1970, 1, 1)
EPOCH_UTC = EPOCH.replace(tzinfo=dt.timezone.utc)
ONE_US = dt.timedelta(microseconds=1)
NULL = "\0N"


def canon(v):
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return NULL if v != v else str(struct.unpack("<q", struct.pack("<d", v))[0])
    if isinstance(v, decimal.Decimal):
        return format(v, "f")
    if isinstance(v, str):
        return v
    if isinstance(v, dt.datetime):
        base = EPOCH if v.tzinfo is None else EPOCH_UTC
        return str((v - base) // ONE_US)
    if isinstance(v, dt.date):
        return str((v - EPOCH.date()).days)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    raise TypeError(f"no canonical form for {type(v)}")


def fingerprint(columns, rows):
    """(sorted columns, row count, hex hash) of an iterable of row tuples."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for row in rows:
        text = "\x01".join(canon(row[i]) for i in order)
        total += int.from_bytes(hashlib.md5(text.encode()).digest()[:8], "little")
        n += 1
    return sorted(columns), n, format(total % (1 << 64), "016x")


class Oracle:
    """DuckDB over the generated tables; each distinct SQL runs once."""

    def __init__(self, data_dir, scratch):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(f"SET temp_directory = '{os.path.join(scratch, 'duckdb')}'")
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        self.cache = {}

    def fingerprint(self, sql):
        if sql not in self.cache:
            cur = self.con.execute(sql)
            cols = [d[0] for d in cur.description]
            self.cache[sql] = fingerprint(cols, cur.fetchall())
        return self.cache[sql]


def matches(op, expected):
    """Whether a JVM op record's fingerprint equals `expected`."""
    cols, rows, h = expected
    return op.get("columns") == cols and op.get("rows") == rows and op.get("hash") == h
