#!/usr/bin/env python3
"""Regenerate graftbench/goldens.json: the expected result digest of
every benchmarked query on every data variant.

Usage (from the repository root):
    python3 graftbench/make_goldens.py [--timeout 120] [workload ...]

For each variant the tables are generated, the query's DuckDB oracle
(`SparkEntry.oracleSql`) runs over them and its result is digested
(source "duckdb"). Spark's digest of the same query is computed by
the harness and must agree. Where the oracle does not finish within
the timeout, the golden is the digest of the checked-out tree's own
result (source "parent"), to be regenerated only from a trusted
commit.
"""
import argparse
import json
import os
import sys
import multiprocessing
import queue
import time

import duckdb

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import run  # noqa: E402
from bench import digest, metrics  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _oracle_worker(sql, data, out):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    cur = con.execute(sql)
    out.put(digest.digest([d[0] for d in cur.description], cur.fetchall()))


def oracle(sql, data, timeout):
    """Digest of the oracle's result, or None if it does not finish in
    `timeout` seconds (run in a child process: DuckDB does not always
    honour an interrupt inside list lambdas)."""
    out = multiprocessing.Queue()
    p = multiprocessing.Process(target=_oracle_worker, args=(sql, data, out))
    p.start()
    try:
        return out.get(timeout=timeout)
    except queue.Empty:
        return None
    finally:
        p.kill()
        p.join()


def spark_digests(classpath, work, workload, variant, data):
    run_dir = os.path.join(work, "runs", f"goldens-{workload}-{variant}")
    for sub in ["tmp", "spark-local"]:
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    out = os.path.join(run_dir, "record.json")
    code = run.run_jvm(classpath, ["--mode", "run", "--workload", workload, "--seed",
                                   str(variant), "--seconds", "0", "--trace", "0",
                                   "--setups", "1", "--work", run_dir, "--out", out,
                                   "--data", data], run_dir, time.time() + 1800)
    if code != 0:
        sys.exit(f"harness failed on {workload} v{variant}")
    with open(out) as f:
        calls = json.load(f)["calls"]
    return {c["name"]: c for c in calls}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--timeout", type=float, default=120)
    ap.add_argument("workloads", nargs="*", default=["queries_floor", "queries_graph"])
    a = ap.parse_args()
    root = os.path.dirname(BENCH)
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    classpath, _ = run.build(root, work)
    sql_file = os.path.join(work, "oracle_sql.json")
    run.run_jvm(classpath, ["--mode", "oracle-sql", "--out", sql_file], work, time.time() + 300)
    with open(sql_file) as f:
        sqls = json.load(f)
    path = os.path.join(BENCH, "goldens.json")
    goldens = json.load(open(path)) if os.path.exists(path) else {}
    mismatches = []
    for w in a.workloads:
        entry = {"data": metrics.DATA[w], "variants": {}}
        for v in range(metrics.VARIANTS):
            data, _ = run.query_data(work, w, v)
            got = spark_digests(classpath, work, w, v, data)
            gv = {}
            for name, call in sorted(got.items()):
                if not call["ok"]:
                    sys.exit(f"{w} v{v} {name} raised: {call.get('error')}")
                t0 = time.time()
                o = oracle(sqls[name], data, a.timeout) if name in sqls else None
                if o is None:
                    gv[name] = {"digest": call["digest"], "rows": call["rows"], "source": "parent"}
                else:
                    gv[name] = {"digest": o[0], "rows": o[1], "source": "duckdb"}
                    if o[0] != call["digest"] or o[1] != call["rows"]:
                        mismatches.append(f"{w} v{v} {name}: spark {call['rows']} rows "
                                          f"{call['digest'][:12]} vs duckdb {o[1]} rows {o[0][:12]}")
                print(f"{w} v{v} {name}: {gv[name]['source']} {gv[name]['rows']} rows "
                      f"({time.time() - t0:.1f} s)", flush=True)
            entry["variants"][str(v)] = gv
        goldens[w] = entry
    with open(path, "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")
    for m in mismatches:
        print("MISMATCH", m)
    sys.exit(1 if mismatches else 0)


if __name__ == "__main__":
    main()
