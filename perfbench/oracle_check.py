#!/usr/bin/env python3
"""Produces perfbench/expected.json, cross-checked against DuckDB.

    python3 perfbench/oracle_check.py [--corpus DIR] [--workload NAME ...]

For each workload it runs the harness once in dump mode (one set-up, no
timed passes): every operation's complete result is written as parquet,
together with its row count, its order-independent digest and its DuckDB
oracle twin (SparkEntry.oracleSql). Each result is then compared with the
oracle run by DuckDB over the same corpus: same columns, same row count,
same values in the same order, floats bit for bit. Only when every result
matches are the row counts and digests written to expected.json, under the
corpus directory's name (merged with what is there for other workloads). The benchmark compares its warm-up pass against
them on every run.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys

import duckdb
import numpy as np
import pandas as pd

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(x):
    if x is None or isinstance(x, (str, int, float, bool)):
        return x
    if isinstance(x, pd.Timestamp) and x == x.normalize():
        return str(x.date())
    if isinstance(x, np.ndarray):
        return [norm(v) for v in x.tolist()]
    return str(x)


def compare(spark, duck):
    """Returns a list of differences (empty when the results match)."""
    spark = spark.reindex(sorted(spark.columns), axis=1)
    duck = duck.reindex(sorted(duck.columns), axis=1)
    if list(spark.columns) != list(duck.columns):
        return [f"columns spark={list(spark.columns)} duckdb={list(duck.columns)}"]
    if len(spark) != len(duck):
        return [f"rows spark={len(spark)} duckdb={len(duck)}"]
    diffs = []
    for c in spark.columns:
        a, b = spark[c], duck[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            av, bv = a.astype("float64").values, b.astype("float64").values
            eq = (av == bv) | (np.isnan(av) & np.isnan(bv))
            if not eq.all():
                i = int(np.argmin(eq))
                diffs.append(f"{c}: {int((~eq).sum())} cells differ, row {i}: {av[i]!r} vs {bv[i]!r}")
        else:
            av = [norm(x) for x in a.astype(object).where(pd.notna(a), None).values]
            bv = [norm(x) for x in b.astype(object).where(pd.notna(b), None).values]
            bad = [i for i, (x, y) in enumerate(zip(av, bv)) if x != y]
            if bad:
                i = bad[0]
                diffs.append(f"{c}: {len(bad)} cells differ, row {i}: {av[i]!r} vs {bv[i]!r}")
    return diffs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", default=os.path.join(HERE, "corpus", "sf0.01"))
    ap.add_argument("--workload", nargs="+", choices=run.WORKLOADS, default=run.WORKLOADS)
    a = ap.parse_args()
    corpus = os.path.abspath(a.corpus)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")

    expected, failures = {}, 0
    for w in a.workload:
        out = os.path.join(run.ROOT, ".bench_build", "perfbench", "dump", w)
        shutil.rmtree(out, ignore_errors=True)
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
               "--seed", "1", "--seconds", "1", "--corpus", corpus, "--dump", out]
        if subprocess.run(cmd).returncode != 0:
            sys.exit(f"dump of {w} failed")
        digests = json.load(open(os.path.join(out, "digests.json")))
        oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
        for op, d in digests.items():
            files = sorted(glob.glob(os.path.join(out, op, "part-*.parquet")))
            spark = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            if op not in oracles:
                print(f"FAIL {w}/{op}: no oracle twin")
                failures += 1
                continue
            diffs = compare(spark, con.sql(oracles[op]).df())
            if len(spark) != d["rows"]:
                diffs.append(f"dump has {len(spark)} rows, harness counted {d['rows']}")
            if diffs:
                failures += 1
                print(f"FAIL {w}/{op}: " + "; ".join(diffs))
            else:
                print(f"PASS {w}/{op} ({d['rows']} rows)")
                expected[op] = d
    if failures:
        sys.exit(f"{failures} operations disagree with their oracle; expected.json not written")

    path = os.path.join(HERE, "expected.json")
    doc = json.load(open(path)) if os.path.exists(path) else {}
    entry = doc.setdefault(os.path.basename(corpus), {})
    entry.update(expected)
    doc[os.path.basename(corpus)] = dict(sorted(entry.items()))
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(expected)} expected results for {os.path.basename(corpus)} to {path}")


if __name__ == "__main__":
    main()
