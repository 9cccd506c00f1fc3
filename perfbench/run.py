#!/usr/bin/env python3
"""Benchmark of the graft CDC and curation engine (see perfbench/README.md).

Usage, from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Builds the program and the benchmark once per checkout (sbt, offline),
then runs one workload in a fresh JVM and prints, as its last stdout
line, one JSON object {"correct", "attempted", "failed", "metrics"}.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
TARGET = os.path.join(HERE, "target")
CP_FILE = os.path.join(TARGET, "perfbench-classpath.txt")
FIXTURE = os.path.join(WORK, "fixture")
WORKLOADS = ["cdc-bulk", "corpus-chain", "query-mix"]
# GenData multiplier of the query-mix fixture: 0.01 is the sf0.001 shape
FIXTURE_MULT = "0.01"
RUN_TIMEOUT_S = 170
# query-mix queries without a DuckDB oracle, checked by row count and digest
NO_ORACLE = ["q178_graph_pagerank", "q211_wordpiece_vocab", "q212_wordpiece_encode",
             "q226_image_dedup"]
JVM_OPENS = [
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


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def driver_heap():
    """The repository's meminfo rule: half of MemTotal, clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
        return f"{min(max(g, 2), 8)}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def cpus():
    return len(os.sched_getaffinity(0))


def source_fingerprint():
    h = hashlib.sha1()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt")):
        if os.path.isfile(base):
            paths = [base]
        else:
            paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile once per source state; later runs reuse the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources not found next to the benchmark; run from a "
             "full checkout of the repository")
    fp = source_fingerprint()
    if os.path.exists(CP_FILE):
        with open(CP_FILE) as f:
            stamp, cp = f.read().split("\n", 1)
        if stamp == fp:
            return cp.strip()
    env = dict(os.environ)
    env["PERFBENCH_SPARK_JARS"] = spark_jars()
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    if "perfbench" not in cp or ":" not in cp:
        sys.stderr.write(out.stdout[-4000:])
        fail("could not read the exported classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(CP_FILE, "w") as f:
        f.write(fp + "\n" + cp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def java_cmd(cp, main, args, work):
    return (["java", f"-Xmx{driver_heap()}", "-XX:ReservedCodeCacheSize=512m",
             "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
             f"-Dspark.local.dir={work}/spark-local",
             f"-Dderby.system.home={work}/derby",
             "-Dspark.ui.enabled=false"]
            + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, main] + args)


def run_jvm(cmd, cwd, timeout):
    """Runs the JVM in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=None,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"JVM exceeded {timeout} s")
    return p.returncode, out


def fixture(cp):
    """The query-mix fixture: GenData's deterministic tables, made once."""
    d = FIXTURE
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    tmp = os.path.join(WORK, f"gen-{os.getpid()}")
    os.makedirs(os.path.join(tmp, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    cmd = java_cmd(cp, "perfbench.Fixture", [d, FIXTURE_MULT, tmp], tmp)
    p = subprocess.run(cmd, cwd=tmp, env=env, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL, timeout=600)
    shutil.rmtree(tmp, ignore_errors=True)
    if p.returncode != 0:
        fail("fixture generation failed")
    open(os.path.join(d, "_DONE"), "w").close()
    return d


def commit_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return r.stdout.strip() if r.returncode == 0 else "unknown (not a git checkout)"
    except OSError:
        return "unknown (no git)"


def canon(v):
    """tools/compare.py's canonical cell form, with doubles rounded to 9
    significant digits: the no-oracle digests must not depend on the
    summation order of parallel floating-point aggregates."""
    if isinstance(v, float):
        return "float:" + format(v, ".9g")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "bytes:" + bytes(v).hex()
    return type(v).__name__ + ":" + str(v)


def digest(path):
    import duckdb
    con = duckdb.connect()
    rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    cols = sorted(rel.columns)
    rows = con.sql(f"SELECT {', '.join(f'{chr(34)}{c}{chr(34)}' for c in cols)} FROM rel").fetchall()
    lines = sorted("|".join(canon(v) for v in r) for r in rows)
    h = hashlib.sha256("\n".join(cols + lines).encode()).hexdigest()
    return len(rows), h[:16]


def check_query_mix(work):
    """DuckDB oracle through tools/compare.py, recorded digests for the
    queries without one."""
    verify = os.path.join(work, "verify")
    checks = {}
    cmp_py = os.path.join(ROOT, "tools", "compare.py")
    r = subprocess.run([sys.executable, cmp_py, FIXTURE, verify],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=120)
    with open(os.path.join(verify, "oracle_sql.json")) as f:
        names = sorted(json.load(f))
    for n in names:
        checks[f"oracle.{n}"] = f"PASS {n} (" in r.stdout
    if not all(checks.values()):
        sys.stderr.write(r.stdout[-3000:])
    with open(os.path.join(HERE, "expected_digests.json")) as f:
        expected = json.load(f)
    for n in sorted(NO_ORACLE):
        rows, h = digest(os.path.join(verify, n))
        exp = expected.get(n)
        checks[f"digest.{n}"] = exp is not None and exp == {"rows": rows, "digest": h}
        if not checks[f"digest.{n}"]:
            log(f"digest {n}: rows={rows} digest={h}, recorded {exp}")
    return checks


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload, seed, seconds, trace, scale="full", fault="none"):
    """One measured run; returns the final JSON object."""
    if workload not in WORKLOADS:
        fail(f"unknown workload {workload}; one of {', '.join(WORKLOADS)}")
    spec = bench_spec()
    cp = build()
    fx = fixture(cp) if workload == "query-mix" else ""
    work = os.path.join(WORK, f"run-{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    n = cpus()
    mem = driver_heap()
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work, "--fixture", fx,
            "--cpus", str(n), "--mem", mem, "--scale", scale, "--fault", fault]
    try:
        rc, out = run_jvm(java_cmd(cp, "perfbench.Main", args, work), work,
                          RUN_TIMEOUT_S)
        recs = [json.loads(l[len("PERFBENCH "):]) for l in out.splitlines()
                if l.startswith("PERFBENCH ")]
        res = next((r for r in reversed(recs) if r["kind"] == "result"), None)
        if rc != 0 or res is None:
            fail(f"workload {workload} exited with code {rc} and no result")
        checks = dict(res["checks"])
        if workload == "query-mix":
            checks.update(check_query_mix(work))
        spans = os.path.join(work, "spans.jsonl")
        if trace and os.path.exists(spans):
            shutil.copy(spans, os.path.join(WORK, f"spans-{workload}-{seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for r in recs:
        if r["kind"] in ("settings", "inputs"):
            print(f"{r['kind']}: " + json.dumps({k: v for k, v in r.items() if k != "kind"}))
    print("setup: " + json.dumps({k: res[k] for k in ("setup_samples_s", "process_to_ready_s",
                                                       "setup_phase_s")}))
    fx_mtime = (time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(os.path.getmtime(
        os.path.join(fx, "_DONE")))) if fx else "n/a")
    print("provenance: " + json.dumps({"commit": commit_sha(), "fixture": fx or "n/a",
                                       "fixture_mtime": fx_mtime}))
    metrics = res["metrics"]
    for k, v in sorted(metrics.items()):
        print(f"metric {workload} {k} = {v['value']} {v['unit']}")
    bad = sorted(k for k, ok in checks.items() if not ok)
    print(f"checks: {len(checks) - len(bad)} pass, {len(bad)} fail" +
          (f" ({', '.join(bad)})" if bad else ""))
    correct = not bad and res["failed"] == 0
    attempted = int(res["attempted"])
    failed = attempted if bad else int(res["failed"])
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    final = {}
    for m in wanted:
        v = metrics.get(m["name"])
        if v is None and trace:
            # a layer this workload does not exercise did no work in it
            v = {"value": 0, "unit": m["unit"]}
        if v is None:
            fail(f"workload {workload} did not report {m['name']}")
        final[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": final}


def self_test():
    """Tiny-scale pass of every workload plus two planted faults."""
    ok = True
    for w in WORKLOADS:
        r = run_once(w, 7, 1, False, scale="tiny")
        log(f"self-test {w}: correct={r['correct']}")
        ok &= r["correct"]
    for w, fault in (("cdc-bulk", "drop-push"), ("cdc-bulk", "corrupt-image")):
        r = run_once(w, 7, 1, False, scale="tiny", fault=fault)
        log(f"self-test {w} with planted fault {fault}: correct={r['correct']} "
            "(must be false)")
        ok &= not r["correct"]
    print(json.dumps({"self_test": "pass" if ok else "fail"}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found at the repository root")
    if a.self_test:
        sys.exit(self_test())
    if not a.workload:
        fail("--workload is required")
    res = run_once(a.workload, a.seed, a.seconds, a.trace == 1)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
