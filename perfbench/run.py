#!/usr/bin/env python3
"""graft benchmark: one seeded workload of the graph-load chain or the
curation mix, timed and checked, ending with one JSON summary line.

    python3 perfbench/run.py --workload graph_load_deep --seed 1 --seconds 10 --trace 0

Run it from the repository root. The first run builds the library and the
benchmark with sbt (perfbench/build.sbt) and keeps the classpath in
perfbench/target; later runs start the JVM directly. Inputs and outputs
live under perfbench/work, per-span detail under perfbench/results.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("graph_load_deep", "graph_load_wide", "live_sink", "curation_mix")
HEAP = "3g"
DEADLINE_S = 175
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [ROOT / "src" / "main" / "scala", HERE / "src"]
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def build():
    """The benchmark's classpath, compiling with sbt when a source changed."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("library sources not found: run from the repository root")
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = HERE / "target" / "perfbench-classpath.json"
    if stamp.exists():
        d = json.loads(stamp.read_text())
        if d.get("fingerprint") == h.hexdigest():
            return d["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, capture_output=True, text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    stamp.parent.mkdir(parents=True, exist_ok=True)
    stamp.write_text(json.dumps({"fingerprint": h.hexdigest(), "classpath": lines[-1]}))
    return lines[-1]


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and (pathlib.Path(home) / "bin" / "java").exists():
        return str(pathlib.Path(home) / "bin" / "java")
    j = shutil.which("java")
    if j is None:
        fail("java not found")
    return j


def run_jvm(cp, args, work, detail, result, deadline):
    tmp = work.parent / (work.name + "-tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = [java_bin(), f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Duser.timezone=UTC", "-Duser.language=en",
            "-Duser.country=US", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--detail", str(detail), "--result", str(result),
            "--size", args.size, "--cores", str(args.cores)]
    sys.stdout.flush()
    try:
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
        p = subprocess.run(cmd, cwd=ROOT, env=env,
                           timeout=max(10.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        fail("the JVM did not finish in time", 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if p.returncode != 0 or not result.exists():
        fail(f"the JVM exited with code {p.returncode}", 3)
    return json.loads(result.read_text())


def oracle_check(work, threads):
    """Each curation key's dumped result against its DuckDB twin
    (SparkEntry.oracleSql), compared as tools/check_oracle.py does."""
    import duckdb
    sys.dont_write_bytecode = True
    sys.path.insert(0, str(ROOT / "tools"))
    from check_oracle import norm
    check = work / "check"
    corpus = (check / "corpus_dir.txt").read_text().strip()
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet/*.parquet'")
    oracle = json.loads((check / "oracle_sql.json").read_text())
    bad = []
    for name, sql in sorted(oracle.items()):
        files = sorted(str(p) for p in (check / name).glob("*.parquet"))
        if not files:
            bad.append(f"{name}: no result")
            continue
        try:
            want = norm(con.execute(sql).df())
            got = norm(con.execute(f"SELECT * FROM read_parquet({files!r})").df())
        except Exception as e:  # an oracle error is a failed check, not a crash
            bad.append(f"{name}: {e}")
            continue
        if list(want.columns) != list(got.columns) or len(want) != len(got) or not want.equals(got):
            bad.append(f"{name}: result differs from its DuckDB twin")
    return len(oracle), bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    args = ap.parse_args()
    args.cores = len(os.sched_getaffinity(0))
    start = time.monotonic()

    bench = ROOT / "BENCHMARK.json"
    if not bench.exists():
        fail("BENCHMARK.json not found: run from the repository root")
    spec = json.loads(bench.read_text())
    want = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    cp = build()
    work = HERE / "work" / args.workload
    detail = HERE / "results" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    result = work.parent / f"{args.workload}-result.json"
    result.unlink(missing_ok=True)
    res = run_jvm(cp, args, work, detail, result, start + DEADLINE_S)

    attempted, failed = res["attempted"], res["failed"]
    if args.workload == "curation_mix":
        n, bad = oracle_check(work, args.cores)
        attempted += n
        failed += len(bad)
        for b in bad:
            print(f"problem {b}")
        print(f"oracle check: {n - len(bad)} of {n} curation keys equal their DuckDB twin")
    metrics = res["metrics"]
    # workloads outside BENCHMARK.json need not report every listed metric
    listed = any(w["name"] == args.workload for w in spec["workloads"])
    missing = [m for m in want if m not in metrics] if listed else []
    correct = failed == 0 and not missing
    if missing:
        print(f"problem missing metrics {missing}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {m: metrics[m] for m in want if m in metrics},
    }, separators=(",", ":")))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
