#!/usr/bin/env python3
"""Dev-only replica of the driver's correctness gate (NOT library code).

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [--json[=path]] [name ...]

--json additionally writes the DRIVER-FORMAT artifact (per query:
rows_match/schema_match/hash_match/spark_rows/oracle_rows/err) to
<verifyOutDir>/correctness.json (or the given path), so the canonical
CORRECTNESS_r{N}.json can be regenerated by anyone in one command when
the driver-side artifact arrives empty (r13 verdict #3).

Reads each <name>.parquet the Verify main dumped, runs the matching
oracle SQL from oracle_sql.json in DuckDB over the same source tables,
and compares the two PANDAS frames the way the driver does: columns
sorted by name, rows sorted via sort_values (which crashes on
array/struct cells — replicated here on purpose), per-column DTYPES
compared (DuckDB HUGEINT -> float64 vs Spark int64 is a dtype fail
even when values agree), then stringified values. Prints one line per
query.
"""
import json, sys
import duckdb
import pandas as pd

argv = sys.argv[1:]
json_path = None
for a in list(argv):
    if a == "--json" or a.startswith("--json="):
        argv.remove(a)
        json_path = a.split("=", 1)[1] if "=" in a else ""
sf_dir, out_dir = argv[0], argv[1]
only = set(argv[2:])
if json_path == "":
    # a name-filtered run with bare --json must NEVER clobber the canonical
    # full driver-format artifact with a partial one (r14 advisor): the
    # default filename is suffixed; pass an explicit --json=path to override
    if only:
        json_path = f"{out_dir}/correctness.partial.json"
        print(f"[json] name filter active -> writing PARTIAL report to "
              f"{json_path} (use --json=path to override)")
    else:
        json_path = f"{out_dir}/correctness.json"
report = {}

def record(name, rows_match=False, schema_match=False, hash_match=False,
           spark_rows=None, oracle_rows=None, err=None):
    report[name] = {"rows_match": rows_match, "schema_match": schema_match,
                    "hash_match": hash_match, "spark_rows": spark_rows,
                    "oracle_rows": oracle_rows, "err": err}
def memory_limit():
    """A quarter of the host's memory (at least 1 GB). DuckDB's default is
    80% of RAM, so one large oracle could take a shared host; under the
    cap it spills to temp_directory or fails, and the failure prints as
    ERROR like any other exception."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "2GB"
    return f"{max(kb // 4096, 1024)}MB"

limit = memory_limit()
print(f"[duckdb] memory_limit={limit} temp_directory={out_dir}/duckdb_tmp")
con = duckdb.connect(config={"memory_limit": limit,
                             "temp_directory": f"{out_dir}/duckdb_tmp"})
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

def canon(df):
    df = df[sorted(df.columns)]
    # driver-style row sort: raises TypeError on unhashable (ndarray) cells
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def cells(df):
    out = []
    for _, r in df.iterrows():
        vals = []
        for v in r:
            if isinstance(v, float):
                v = f"{v:.9g}"
            vals.append(str(v))
        out.append("\x01".join(vals))
    return out

fails = 0
for name in sorted(oracle):
    if only and name not in only: continue
    try:
        got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
        exp = con.execute(oracle[name]).df()
        if sorted(got.columns) != sorted(exp.columns):
            print(f"FAIL {name}: columns {sorted(got.columns)} != {sorted(exp.columns)}")
            record(name, rows_match=len(got) == len(exp), spark_rows=len(got),
                   oracle_rows=len(exp), err="column mismatch")
            fails += 1
            continue
        g, e = canon(got), canon(exp)
        # kind, not exact width: int32 vs int64 stringifies identically in
        # the driver's hasher (r1 evidence: q65/q82 hash-passed with Spark
        # int32 ranks vs DuckDB BIGINT); float-vs-int (DuckDB HUGEINT ->
        # float64) is the artifact that breaks it ("5.0" vs "5").
        dt_bad = [(c, str(g[c].dtype), str(e[c].dtype))
                  for c in g.columns if g[c].dtype.kind != e[c].dtype.kind]
        if dt_bad:
            fails += 1
            print(f"FAIL {name}: dtype mismatch {dt_bad}")
            record(name, rows_match=len(g) == len(e), spark_rows=len(g),
                   oracle_rows=len(e), err=f"dtype mismatch {dt_bad}")
            continue
        gv, ev = cells(g), cells(e)
        if gv == ev:
            print(f"PASS {name} ({len(gv)} rows)")
            record(name, rows_match=True, schema_match=True, hash_match=True,
                   spark_rows=len(gv), oracle_rows=len(ev))
        else:
            fails += 1
            print(f"FAIL {name}: {len(gv)} vs {len(ev)} rows")
            record(name, rows_match=len(gv) == len(ev), schema_match=True,
                   spark_rows=len(gv), oracle_rows=len(ev), err="hash mismatch")
            eset, gset = set(ev), set(gv)
            for x in [x for x in gv if x not in eset][:3]: print(f"   spark-only: {x[:200]}")
            for x in [x for x in ev if x not in gset][:3]: print(f"   oracle-only: {x[:200]}")
    except Exception as ex:
        fails += 1
        print(f"ERROR {name}: {type(ex).__name__}: {ex}")
        record(name, err=f"{type(ex).__name__}: {ex}")

# rows-only queries: driver sorts these frames too — array/struct columns crash it
import glob, os
for d in sorted(glob.glob(f"{out_dir}/q*")):
    name = os.path.basename(d)
    if name in oracle: continue
    if only and name not in only: continue
    try:
        df = con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')").df()
        canon(df)  # replicate driver sort — raises on unhashable cells
        n = len(df)
        print(f"{'PASS' if n > 0 else 'FAIL'} {name} (rows-only, {n} rows)")
        record(name, rows_match=n > 0, schema_match=n > 0, hash_match=False,
               spark_rows=n, err=None if n > 0 else "rows-only: 0 rows")
        if n == 0: fails += 1
    except Exception as ex:
        fails += 1
        print(f"ERROR {name}: {type(ex).__name__}: {ex}")
        record(name, err=f"{type(ex).__name__}: {ex}")

# a typo'd name filter must not read as a pass
if only:
    known = set(oracle) | {os.path.basename(d) for d in glob.glob(f"{out_dir}/q*")}
    unknown = only - known
    if unknown:
        fails += 1
        print(f"ERROR unknown query names: {sorted(unknown)}")

if json_path:
    with open(json_path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"[json] wrote driver-format artifact: {json_path} ({len(report)} queries)")

print(f"\n{'ALL GREEN' if fails == 0 else f'{fails} FAILURES'}")
sys.exit(1 if fails else 0)
