#!/usr/bin/env python3
"""Regenerate expected_digests.txt from the DuckDB oracle.

    python3 perfbench/make_digests.py

Generates the query_catalog tables, asks the harness for the oracle SQL of
each sampled query (`SparkEntry.oracleSql`), runs it in DuckDB and writes
one line per query: `<name> <rows> <hash>`. The hash is the one
`Catalog.digest` computes over Spark's result: the sum, modulo 2^64, of the
first 8 bytes (big-endian, signed) of the MD5 of each row's canonical text.
Run it only when the sample, the table generator or a query's semantics
change; the benchmark compares every run against the stored file.
"""
import datetime
import decimal
import hashlib
import json
import os
import shutil
import struct
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

EPOCH = datetime.datetime(1970, 1, 1)
UTC = datetime.timezone.utc
ESCAPED = set("\\|,[]{}:")


def canon(v):
    """Python twin of `Catalog.canon`."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return "nan" if v != v else "%x" % struct.unpack(">Q", struct.pack(">d", v))[0]
    if isinstance(v, decimal.Decimal):
        return "0" if v == 0 else format(v.normalize(), "f")
    if isinstance(v, str):
        return "".join("\\" + c if c in ESCAPED else c for c in v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(UTC).replace(tzinfo=None)
        return str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return str((v - EPOCH.date()).days)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest(columns, rows):
    """(row count, hash) of a result given its column names and rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        text = "|".join(canon(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(text.encode()).digest()[:8], "big", signed=True)
    return len(rows), "%x" % (total & (2 ** 64 - 1))


def main():
    import duckdb
    import gen
    import run

    work = os.path.join(HERE, ".work", "digests")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        tables = os.path.join(work, "tables")
        gen.write_tables(tables, run.CATALOG_SCALE)
        names = run.sample_names()
        sql_file = os.path.join(work, "oracle.json")
        classpath = run.build()
        subprocess.run(["java", "-cp", classpath, "perfbench.Main", "--mode", "oracle-sql",
                        "--names", ",".join(names), "--out", sql_file], check=True)
        with open(sql_file) as fh:
            oracle = json.load(fh)
        con = duckdb.connect()
        for t in os.listdir(tables):
            path = os.path.join(tables, t)
            con.execute(f"CREATE VIEW {t[:-len('.parquet')]} AS SELECT * FROM read_parquet('{path}')")
        lines = []
        for name in sorted(names):
            cur = con.execute(oracle[name])
            cols = [d[0] for d in cur.description]
            rows, h = digest(cols, cur.fetchall())
            lines.append(f"{name} {rows} {h}")
        with open(os.path.join(HERE, "expected_digests.txt"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        print(f"wrote {len(lines)} digests")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
