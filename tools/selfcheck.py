#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify,
then compare each result parquet against the DuckDB oracle SQL.

Writes the per-query verdicts to <outdir>/CORRECTNESS_self.json in the
driver's CORRECTNESS_r{N}.json schema ({name: {rows_match, schema_match,
hash_match, spark_rows, oracle_rows, err}}) so every round carries its
own committed correctness artifact even when the driver's scrape fails
(r11: the driver's file landed as `{}` and the judge had to reproduce
the gate from scratch).

Usage: python3 tools/selfcheck.py [sfdir] [outdir] [--skip-verify] [--write-golden]

--write-golden: instead of comparing, have DuckDB write each oracle's
result to src/test/resources/oracle/<query>.parquet, the goldens the
tier-1 oracle specs (DedupOracleSpec) compare Spark's results with. The
goldens come from DuckDB alone: graft.Verify runs only to export the
oracle SQL. sfdir must be the sf0.001 data the specs read, and
SPARK_GRAFT_ONLY picks the queries, e.g.
  SPARK_GRAFT_ONLY=dedup_minhash_lsh,dedup_incremental \
    python3 tools/selfcheck.py <data>/sf0.001 /tmp/golden_out --write-golden
A new golden is checked only once its query carries the `Golden` tag
(QuerySpecSpec fails while the tags and the golden files differ).
"""
import sys, os, json, subprocess, glob

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WRITE_GOLDEN = "--write-golden" in sys.argv
if WRITE_GOLDEN and os.path.basename(os.path.normpath(SF)) != "sf0.001":
    print(f"--write-golden needs the sf0.001 data dir the oracle specs read, got {SF}")
    sys.exit(2)
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

if "--skip-verify" not in sys.argv:
    r = subprocess.run(["sbt", f'runMain graft.Verify {SF} {OUT}'],
                       capture_output=True, text=True, cwd=REPO)
    if r.returncode != 0:
        print(r.stdout[-4000:]); print(r.stderr[-4000:]); sys.exit(1)
    for line in r.stderr.splitlines():
        if "[verify]" in line: print(line)
    # the driver-scrapable trailing line (r14): must exist and parse —
    # this is the same contract the driver's stdout-tail scrape uses
    vline = None
    for line in r.stdout.splitlines():
        if line.startswith('{"metric":"verify"'):
            vline = line.strip()
    if vline is None:
        print("FATAL: graft.Verify printed no {\"metric\":\"verify\"} line")
        sys.exit(1)
    v = json.loads(vline)
    print(f"verify line: written={v['written']} empty={v['empty']} "
          f"failed={v['failed']} oracle_sql={v['oracle_sql']}")

import duckdb
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
# honor SPARK_GRAFT_ONLY on the COMPARE side too: a reused out dir may
# hold stale results from an earlier run at a different SF, and those
# must not masquerade as failures of the current subset
only = os.environ.get("SPARK_GRAFT_ONLY")
only_set = set(x.strip() for x in only.split(",") if x.strip()) if only else None
if only_set is not None and only_set - set(oracle):
    # a typo must not select nothing and pass
    print(f"SPARK_GRAFT_ONLY names unknown queries: {sorted(only_set - set(oracle))}")
    sys.exit(2)

if WRITE_GOLDEN:
    gdir = os.path.join(REPO, "src", "test", "resources", "oracle")
    os.makedirs(gdir, exist_ok=True)
    names = sorted(n for n in oracle if only_set is None or n in only_set)
    empty = []
    for name in names:
        sql = oracle[name].strip().rstrip(";")
        path = os.path.join(gdir, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
        n = con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
        print(f"golden {name}: {n} rows")
        if n == 0:
            empty.append(name)
    # an empty golden would let an empty Spark result pass
    if empty:
        print(f"EMPTY goldens (give these queries a fixture with rows): {empty}")
    sys.exit(1 if empty else 0)

fail, ok, noorc = [], [], []
report = {}


def record(name, spark_rows=None, oracle_rows=None, rows_match=False,
           schema_match=False, hash_match=False, err=None):
    report[name] = {
        "rows_match": rows_match, "schema_match": schema_match,
        "hash_match": hash_match, "spark_rows": spark_rows,
        "oracle_rows": oracle_rows, "err": err,
    }


for name in sorted(os.listdir(OUT)):
    pdir = os.path.join(OUT, name)
    if not os.path.isdir(pdir):
        continue
    if only_set is not None and name not in only_set:
        continue
    files = glob.glob(f"{pdir}/*.parquet")
    if not files:
        fail.append((name, "no parquet written"))
        record(name, err="no parquet written")
        continue
    got = con.execute(f"SELECT * FROM read_parquet('{pdir}/*.parquet')").fetchdf()
    if name not in oracle:
        noorc.append((name, len(got)))
        # rows-only check, the driver's weaker contract for non-SQL ops
        record(name, spark_rows=len(got), rows_match=len(got) > 0,
               err=None if len(got) > 0 else "no oracle and zero rows")
        continue
    try:
        exp = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        fail.append((name, f"oracle SQL error: {e}"))
        record(name, spark_rows=len(got), err=f"oracle SQL error: {e}")
        continue
    g = got.reindex(sorted(got.columns), axis=1)
    e = exp.reindex(sorted(exp.columns), axis=1)
    if list(g.columns) != list(e.columns):
        fail.append((name, f"columns differ: got {list(g.columns)} vs oracle {list(e.columns)}"))
        record(name, spark_rows=len(g), oracle_rows=len(e),
               rows_match=len(g) == len(e),
               err=f"columns differ: got {list(g.columns)} vs oracle {list(e.columns)}")
        continue
    if len(g) != len(e):
        fail.append((name, f"row count: got {len(g)} vs oracle {len(e)}"))
        record(name, spark_rows=len(g), oracle_rows=len(e), schema_match=True,
               err=f"row count: got {len(g)} vs oracle {len(e)}")
        continue
    g = g.sort_values(by=list(g.columns)).reset_index(drop=True)
    e = e.sort_values(by=list(e.columns)).reset_index(drop=True)
    try:
        import pandas as pd
        pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
        ok.append(name)
        record(name, spark_rows=len(g), oracle_rows=len(e),
               rows_match=True, schema_match=True, hash_match=True)
    except AssertionError as ex:
        diffcols = []
        for c in g.columns:
            if not g[c].equals(e[c]):
                diffcols.append(c)
        msg = f"value mismatch in {diffcols}: {str(ex).splitlines()[-1][:200]}"
        fail.append((name, msg))
        record(name, spark_rows=len(g), oracle_rows=len(e),
               rows_match=True, schema_match=True, err=msg)

self_path = os.path.join(OUT, "CORRECTNESS_self.json")
with open(self_path, "w") as f:
    json.dump(dict(sorted(report.items())), f, indent=2)
    f.write("\n")

print(f"\n=== PASS {len(ok)} : {ok}")
print(f"=== NO-ORACLE {len(noorc)} : {noorc}")
print(f"=== FAIL {len(fail)}")
for n, why in fail:
    print(f"  {n}: {why}")
print(f"=== per-query artifact: {self_path}")
sys.exit(1 if fail else 0)
