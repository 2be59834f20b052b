#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source, runs one workload
in one JVM, checks the basket's results against their DuckDB oracles and
prints the result as the last line of stdout.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Everything it builds or writes stays under
`.bench_build/` there. The Spark jars come from the directory `build.sbt`
names as `unmanagedBase` (or `$SPARK_HOME/jars`). Metric names and units come
from `BENCHMARK.json`.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
RUN_TIMEOUT_S = 160

# Spark 4 on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The jar directory the program's build uses."""
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise SystemExit("perfbench: build.sbt not found; run from a full checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    raise SystemExit("perfbench: no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((BENCH / "src").glob("*.scala"))
    return main, bench


def scalac(jars, out, files, classpath=""):
    out.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(out)]
    if classpath:
        cmd += ["-classpath", classpath]
    subprocess.run(cmd + [str(f) for f in files], check=True, stdout=sys.stderr)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def compiled(jars, kind, key, files, classpath=""):
    """Compiles `files` once per source state into .bench_build/<kind>-<key>."""
    out = BUILD / f"{kind}-{key}"
    if not (out / "ok").exists():
        shutil.rmtree(out, ignore_errors=True)
        t = time.time()
        scalac(jars, out / "classes", files, classpath)
        (out / "ok").write_text("")
        log(f"compiled {kind} in {time.time() - t:.1f}s")
        for old in BUILD.glob(f"{kind}-*"):
            if old != out:
                shutil.rmtree(old, ignore_errors=True)
    return out / "classes"


def build(jars):
    """The program's classes and the benchmark's, built from source."""
    main, bench = sources()
    if not main or not bench:
        raise SystemExit("perfbench: program sources not found; run from a full checkout")
    main_key = digest(main)
    program = compiled(jars, "program", main_key, main)
    harness = compiled(jars, "harness", main_key + digest(bench), bench, str(program))
    return harness, program


def canon(df):
    """A result as sorted rows of its name-sorted columns, as strings."""
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return ["\x01".join(f"{v:.9g}" if isinstance(v, float) else str(v) for v in r)
            for r in df.itertuples(index=False)]


def oracle_failures(work):
    """Basket queries whose kept results differ from their DuckDB oracle."""
    spec_file = work / "basket-check.json"
    if not spec_file.exists():
        return 0
    import duckdb
    spec = json.loads(spec_file.read_text())
    con = duckdb.connect()
    for t, path in spec["tables"].items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    failed = 0
    for q, sql in spec["oracle"].items():
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{spec['results'][q]}/*.parquet')").df()
            exp = con.execute(sql).df()
        except duckdb.Error as e:  # a query that failed in the JVM kept no result
            log(f"oracle {q}: FAIL ({e})")
            failed += 1
            continue
        kinds = sorted((c, got[c].dtype.kind) for c in got.columns)
        ok = kinds == sorted((c, exp[c].dtype.kind) for c in exp.columns) and canon(got) == canon(exp)
        log(f"oracle {q}: {'PASS' if ok else 'FAIL'} ({len(got)} rows, oracle {len(exp)})")
        failed += not ok
    return failed


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    harness, program = build(jars)
    work = BUILD / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    trace_out = BUILD / "traces" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    # C1 only: a run is too short for C2 to finish compiling Spark's planner,
    # and its background compilation made each operation cheaper than the
    # last (CPU per backfill run fell from 18.6 s to 9.9 s over nine runs)
    cmd = ["java", "-XX:TieredStopAtLevel=1", "-Xmx4g", "-XX:-UsePerfData",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work / 'tmp'}"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", f"{harness}:{program}:{jars}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--trace-out", str(trace_out)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)
    try:
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: run exceeded {RUN_TIMEOUT_S}s")
        lines = out.strip().splitlines()
        for line in lines[:-1]:
            print(line, file=sys.stderr)
        if proc.returncode != 0 or not lines:
            raise SystemExit(f"perfbench: benchmark JVM exited with {proc.returncode}")
        jvm = json.loads(lines[-1])
        failed = jvm["failed"] + oracle_failures(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # a layer the workload does not exercise did no work: it reads 0
    specs = bench["per_layer" if a.trace else "end_to_end"]
    unknown = set(jvm["values"]) - {m["name"] for m in specs}
    if unknown:
        raise SystemExit(f"perfbench: metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {m["name"]: {"value": jvm["values"].get(m["name"], 0.0), "unit": m["unit"]}
               for m in specs}
    result = {"correct": failed == 0, "attempted": jvm["attempted"], "failed": failed,
              "metrics": metrics}
    log("error_rate=%.4f (%d failed of %d)" % (failed / jvm["attempted"], failed, jvm["attempted"]))
    for k, m in metrics.items():
        log(f"{k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
