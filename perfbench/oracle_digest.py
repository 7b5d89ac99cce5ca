#!/usr/bin/env python3
"""Compute the DuckDB oracle digests that crawl_batch checks its results
against, and write them to perfbench/data/oracle_digests.json.

Usage (from the repository root, after one benchmark build):
  python3 perfbench/oracle_digest.py

Each crawl entry's oracle SQL (graft.SparkEntry.oracleSql, dumped by
graft.perfbench.OracleDump) runs in DuckDB over perfbench/data. The digest
is the one graft.perfbench.Digest computes over the engine's result: a
header of the columns sorted by name with their types, then each row's
values in that column order, in the oracle's (total) row order. Run it
again only when the corpus or an entry's oracle changes.
"""
import hashlib
import json
import os
import struct
import subprocess
import sys
import tempfile

import duckdb

from run import spark_jars

HERE = os.path.dirname(os.path.abspath(__file__))
TYPES = {"INTEGER": "i32", "BIGINT": "i64", "DOUBLE": "f64",
         "VARCHAR": "str", "BOOLEAN": "bool"}


def cell(v, t):
    if v is None:
        return b"N"
    if t == "f64":
        bits = struct.unpack(">Q", struct.pack(">d", v))[0]
        if v != v:  # NaN: Java's canonical doubleToLongBits
            bits = 0x7ff8000000000000
        return b"d" + format(bits, "x").encode()
    if t == "str":
        b = v.encode("utf-8")
        return b"s" + str(len(b)).encode() + b":" + b
    if t == "bool":
        return b"t" if v else b"f"
    return b"v" + str(v).encode()


def digest(rel):
    cols = sorted(zip(rel.columns, (TYPES[str(t)] for t in rel.types),
                      range(len(rel.columns))))
    md = hashlib.sha256()
    for name, t, _ in cols:
        md.update(f"{name}:{t}\n".encode())
    for row in rel.fetchall():
        for _, t, i in cols:
            md.update(cell(row[i], t) + b"\t")
        md.update(b"\n")
    return md.hexdigest()


def main():
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    jars = spark_jars()
    with tempfile.TemporaryDirectory() as tmp:
        dump = os.path.join(tmp, "oracle.json")
        subprocess.run(["java", "-cp", f"{classes}:{jars}/*",
                        "graft.perfbench.OracleDump", dump], check=True)
        with open(dump) as fh:
            sqls = json.load(fh)
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(HERE, 'data', 'documents.parquet')}'")
    out = {}
    for name in sorted(sqls):
        out[name] = digest(con.sql(sqls[name]))
        print(f"{name}: {out[name]}", file=sys.stderr)
    with open(os.path.join(HERE, "data", "oracle_digests.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
