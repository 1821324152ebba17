#!/usr/bin/env python3
"""Derives perfbench/suite_digests.tsv from the DuckDB oracles.

Usage, from the root of a checkout:

    python3 perfbench/make_digests.py

For each operator-suite query it runs the query's declared oracle SQL
(SparkEntry.oracleSql, dumped by graft.DumpOracles) with DuckDB over the
bundled corpus, canonicalises the rows with the rules of
perfbench.Digest (columns sorted by name, rows in the oracle's order), and
writes one line per query: name, row count, SHA-256. The benchmark
compares every Spark result against these lines. Run it again only when
the corpus or a suite query's oracle changes.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import struct
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402  (the benchmark's build step)

QUERIES = ["communities_lpa", "er_clusters",
           "q1_pricing_summary", "cube_lineitem", "daily_enrollment_diff",
           "mirror_apply", "change_stats"]
EXACT = 2.0 ** 53
EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_TZ = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def num(d):
    if math.isnan(d):
        return "nan"
    if d == math.floor(d) and abs(d) < EXACT:
        return str(int(d))
    return format(struct.unpack(">Q", struct.pack(">d", d))[0], "x")


def render(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v) if abs(float(v)) < EXACT else num(float(v))
    if isinstance(v, (float, decimal.Decimal)):
        return num(float(v))
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        base = EPOCH_TZ if v.tzinfo else EPOCH
        delta = v - base
        return str((delta.days * 86400 + delta.seconds) * 1000000 + delta.microseconds)
    if isinstance(v, datetime.date):
        return str((v - datetime.date(1970, 1, 1)).days)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(render(x) for x in v.values()) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def digest(con, sql):
    rel = con.sql(sql)
    order = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
    rows = rel.fetchall()
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(render(r[i]) for i in order).encode("utf-8"))
        h.update(b"\n")
    return len(rows), h.hexdigest()


def main():
    root = os.getcwd()
    bench = os.path.join(root, "perfbench")
    out_dir = os.path.join(root, ".bench_build")
    os.makedirs(out_dir, exist_ok=True)
    cp = run.build(root, bench, out_dir)
    oracle_file = os.path.join(out_dir, "oracles.json")
    subprocess.run(["java", "-cp", cp, "graft.DumpOracles", oracle_file],
                   check=True, stdout=subprocess.DEVNULL)
    with open(oracle_file) as fh:
        oracles = json.load(fh)
    corpus = os.path.join(bench, "corpus", "sf0.01")
    con = duckdb.connect()
    for t in sorted(os.listdir(corpus)):
        name = t[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{corpus}/{t}'")
    lines = ["# name\trows\tsha256 (perfbench/make_digests.py over corpus/sf0.01)"]
    for q in QUERIES:
        n, sha = digest(con, oracles[q])
        lines.append(f"{q}\t{n}\t{sha}")
        print(f"{q}: {n} rows", file=sys.stderr)
    with open(os.path.join(bench, "suite_digests.tsv"), "w") as fh:
        fh.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
