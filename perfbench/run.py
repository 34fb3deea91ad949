#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload es-dump|llm-mix \\
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the library and the
benchmark from source with sbt (`perfbench/build.sbt`) into `target/` and
`.bench_build/`; later runs reuse the build while the sources are
unchanged. Everything the run writes stays under `.bench_build/`.

The JVM side (`perfbench.Main`) sets up, measures and checks the dump
outputs; this script then checks each query-mix result against its DuckDB
oracle (the hash rule of the repository's oracle compare) and prints the
result object as the last line of stdout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
WORKLOADS = ("es-dump", "llm-mix")
RUN_LIMIT_S = 170     # a run must end within 180 s ...
FIRST_LIMIT_S = 880   # ... or 900 s when it builds first
BUILD_LIMIT_S = 800
FIXTURE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def say(line):
    print(f"[perfbench] {line}", flush=True)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def fingerprint():
    """Paths, sizes and mtimes of everything the build reads."""
    h = hashlib.sha256()
    for base in (ROOT / "src" / "main", BENCH / "src" / "main"):
        for p in sorted(base.rglob("*")):
            if p.is_file():
                st = p.stat()
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    for p in (ROOT / "build.sbt", BENCH / "build.sbt"):
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the library and the benchmark; return (classpath, built)."""
    cp_file = BUILD / "classpath.txt"
    fp = fingerprint()
    if cp_file.exists():
        stamp, _, cp = cp_file.read_text().partition("\n")
        if stamp == fp and cp.strip():
            return cp.strip(), False
    BUILD.mkdir(parents=True, exist_ok=True)
    t0 = time.time()
    log = BUILD / "build.log"
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=BUILD_LIMIT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (exit {proc.returncode}); see {log}")
    cp = lines[-1].strip()
    cp_file.write_text(fp + "\n" + cp + "\n")
    say(f"built in {time.time() - t0:.1f} s")
    return cp, True


def run_jvm(cp, args, work, limit):
    """Run perfbench.Main; its report goes to our stdout, its log to a file."""
    java = Path(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = BUILD / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    # A fixed, pre-touched heap: a heap that grows while the passes run
    # (and takes page faults on every region it touches first) made each
    # pass faster than the one before it for a dozen passes.
    cmd = [str(java), "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--cores", str(cores())]
    log = BUILD / f"{args.workload}.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stdout, stderr=err,
                                start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = proc.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {limit:.0f} s; see {log}")
        finally:
            # the responder is the JVM's child; make sure nothing outlives us
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    if code != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"benchmark JVM exited with {code}; see {log}")


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if v != v else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(rows, cols):
    """Order-insensitive hash: columns by name, rows sorted, values canonical."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for r in sorted("\x1f".join(canon(r[i]) for i in order) for r in rows):
        h.update(r.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def summary(con, sql):
    rel = con.sql(sql)
    cols = list(rel.columns)
    rows = rel.fetchall()
    return {"cols": sorted(cols), "rows": len(rows), "hash": table_hash(rows, cols)}


def oracle_check(spec):
    """Each query's warm-pass result against its DuckDB oracle answer, or,
    for a query without an oracle, against the result of its first run.
    Both are kept next to the fixtures, which do not change between runs.
    Returns the names that failed."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {cores()}")
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{spec['fixtures']}/{t}.parquet/*.parquet')")
    cache_file = Path(spec["fixtures"]) / "answers.json"
    cache = json.loads(cache_file.read_text()) if cache_file.exists() else {}
    bad = []
    for q, sql in sorted(spec["queries"].items()):
        key = f"self:{q}" if sql is None else "sql:" + hashlib.sha256(sql.encode()).hexdigest()
        try:
            got = summary(con, f"SELECT * FROM read_parquet('{spec['results']}/{q}/*.parquet')")
            if key not in cache:
                cache[key] = got if sql is None else summary(con, sql)
            want = cache[key]
            problems = [f"{k} {got[k]} != {want[k]}" if k != "hash" else "row hash differs"
                        for k in ("rows", "cols", "hash") if got[k] != want[k]]
        except Exception as e:  # a broken result or oracle is a failed check
            problems = [f"{type(e).__name__}: {str(e)[:200]}"]
        if problems:
            bad.append(q)
            say(f"ORACLE MISMATCH {q}: {'; '.join(problems)}")
    tmp = cache_file.with_suffix(".tmp")
    tmp.write_text(json.dumps(cache, indent=1))
    tmp.replace(cache_file)
    return bad


def selftest():
    """Dump parity: the benchmark responder vs the repository's ES stub."""
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/test"],
                          cwd=BENCH, timeout=BUILD_LIMIT_S)
    return proc.returncode


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()

    started = time.time()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"{ROOT} is not a checkout of the library (no build.sbt / src/main/scala/graft)")
    if args.selftest:
        sys.exit(selftest())
    if args.workload is None:
        fail("--workload is required")

    cp, built = build()
    work = BUILD / f"run-{args.workload}"
    run_jvm(cp, args, work, (FIRST_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - started))

    result = json.loads((work / "result.json").read_text())
    attempted, failed = result["attempted"], result["failed"]
    if result.get("oracle"):
        spec = result["oracle"]
        t0 = time.time()
        bad = oracle_check(spec)
        say(f"oracle check: {len(spec['queries']) - len(bad)}/{len(spec['queries'])} "
            f"query results match ({time.time() - t0:.1f} s)")
        failed += len(bad)
    say(f"  {'failed_ratio':<24} {failed / max(attempted, 1):12.4f} ratio "
        f"({failed} of {attempted} operations failed or wrong)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result["metrics"]}), flush=True)


if __name__ == "__main__":
    main()
