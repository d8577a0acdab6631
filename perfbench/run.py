#!/usr/bin/env python3
"""graft benchmark: the append -> replicate -> subscribe event path and event
analytics, measured from outside the library.

usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the library sources and
the benchmark program with sbt (perfbench/build.sbt) and caches the result
under perfbench/.build, keyed by a digest of the sources. Every run works in
a fresh directory under perfbench/.work and deletes it at the end. The last
line of standard output is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
Exit status is 0 only when every correctness check passed.
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
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

BUILD_DIR = os.path.join(HERE, ".build")
WORK_ROOT = os.path.join(HERE, ".work")
LIB_SRC = os.path.join(REPO, "src", "main", "scala")
JVM_TIMEOUT_S = 140
# Runnable by hand but not part of BENCHMARK.json (see README.md).
EXTRA_WORKLOADS = ["event_bulk"]

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (LIB_SRC, os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith((".scala", ".java"))]
    for p in files:
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source digest; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        raise SystemExit("library sources not found next to the benchmark (src/main/scala/graft)")
    stamp = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("[perfbench] building (sbt compile) ...")
    t0 = time.time()
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as out:
        rc = subprocess.call(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Compile/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = open(os.path.join(BUILD_DIR, "build.log")).read().splitlines()
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cps:
        log("\n".join(lines[-30:]))
        raise SystemExit(f"build failed (exit {rc}); see {BUILD_DIR}/build.log")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"[perfbench] built in {time.time() - t0:.0f} s")
    return cps[-1].strip()


def make_inputs(workload, seed, data_dir):
    """Input table for the query workload (not part of set-up time)."""
    import tables
    os.makedirs(data_dir, exist_ok=True)
    if workload == "event_analytics":
        tables.write_events(tables.events(seed), data_dir)


def run_jvm(classpath, work, argv):
    """Runs the benchmark JVM; returns (exit code, launch time in epoch s)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + argv
    with open(os.path.join(work, "jvm.log"), "w") as out:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        launched = time.time()
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)

        def stop(signum, _frame):  # never leave the JVM behind
            p.kill()
            p.wait()
            sys.exit(128 + signum)
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, stop)
        deadline = time.time() + JVM_TIMEOUT_S
        while True:
            if p.poll() is not None:
                return p.returncode, launched
            if time.time() > deadline:
                p.kill()
                p.wait()
                log(f"[perfbench] benchmark JVM timed out after {JVM_TIMEOUT_S} s")
                return -9, launched
            time.sleep(0.05)


def one_run(classpath, workload, seed, seconds, trace, fault=None):
    """Runs one workload; returns the JVM's result dict (plus checks)."""
    import oracle
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        make_inputs(workload, seed, data)
        argv = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace), "--work", work, "--data", data]
        if fault:
            argv += ["--fault", fault]
        rc, launched = run_jvm(classpath, work, argv)
        res_path = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(res_path):
            tail = open(os.path.join(work, "jvm.log")).read().splitlines()[-40:]
            log("\n".join(tail))
            raise SystemExit(f"benchmark JVM failed (exit {rc})")
        with open(os.path.join(work, "jvm.log")) as f:
            log("".join(l for l in f if l.startswith("[perfbench]")).rstrip())
        res = json.load(open(res_path))
        # cold set-up: from the JVM's launch to the end of its warm-up
        res["metrics"]["setup_s"] = {"value": res["setup_end_ms"] / 1000.0 - launched,
                                     "unit": "s", "samples": 1}
        if res.get("oracle_keys"):
            t0 = time.time()
            sql = json.load(open(os.path.join(work, "oracle_sql.json")))
            for key, ok, detail in oracle.check(data, os.path.join(work, "results"), sql,
                                                res["oracle_keys"]):
                res["attempted"] += 1
                res["failed"] += 0 if ok else 1
                res["checks"].append({"name": f"oracle {key}", "ok": ok, "detail": detail})
            log(f"[perfbench] oracle checks took {time.time() - t0:.1f} s")
        if trace and os.path.exists(os.path.join(work, "spans.json")):
            os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(HERE, ".traces", f"{workload}-{seed}.spans.json"))
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(res, names, trace):
    """Prints the readable table and returns the contract's metrics map."""
    src = res["layers"] if trace else res["metrics"]
    out = {}
    for m in names:
        got = src.get(m["name"])
        if not trace and (got is None or got["value"] is None):
            raise SystemExit(f"end-to-end metric {m['name']} was not measured")
        value = float(got["value"]) if got and got["value"] is not None else 0.0
        out[m["name"]] = {"value": value, "unit": m["unit"]}
        samples = res["metrics"].get(m["name"], {}).get("samples", "") if not trace else ""
        print(f"  {m['name']:<40} {value:>16.4f} {m['unit']:<8} {samples}")
    for c in res["checks"]:
        if not c["ok"]:
            print(f"  FAILED {c['name']}: {c['detail']}")
    for n in res.get("notes", []):
        print(f"  note: {n}")
    if trace:
        listed = {m["name"] for m in names}
        for k, v in res["layers"].items():
            if k not in listed:
                print(f"  {k:<40} {v['value']:>16.4f} {v['unit']:<8} (not in BENCHMARK.json)")
        by = ", ".join(f"{g} {v['jobs']} jobs" for g, v in sorted(res.get("spark_by_layer", {}).items()))
        print(f"  note: spark jobs by layer: {by}")
    return out


def selftest(classpath):
    """Non-vacuity: a wrong decryption key and a dropped batch must fail."""
    ok = True
    for fault in ("wrong_key", "dropped_batch"):
        res = one_run(classpath, "event_bulk", 1, 1, 0, fault=fault)
        caught = res["failed"] > 0
        names = [c["name"] for c in res["checks"] if not c["ok"]]
        print(f"selftest {fault}: {'reported as failed' if caught else 'NOT DETECTED'} {names[:3]}")
        ok &= caught
    res = one_run(classpath, "event_bulk", 1, 1, 0)
    print(f"selftest control run: failed={res['failed']} of {res['attempted']}")
    ok &= res["failed"] == 0
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    bench = spec()
    a.seconds = a.seconds or bench["run_seconds"]
    classpath = build()
    if a.selftest:
        sys.exit(0 if selftest(classpath) else 1)
    names = [w["name"] for w in bench["workloads"]] + EXTRA_WORKLOADS
    if a.workload not in names:
        raise SystemExit(f"--workload must be one of {names}")
    res = one_run(classpath, a.workload, a.seed, a.seconds, a.trace)
    print(f"[{a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}]"
          f" attempted={res['attempted']} failed={res['failed']}")
    metrics = report(res, bench["per_layer"] if a.trace else bench["end_to_end"], a.trace)
    line = {"correct": res["failed"] == 0, "attempted": max(1, int(res["attempted"])),
            "failed": int(res["failed"]), "metrics": metrics}
    print(json.dumps(line))
    sys.exit(0 if res["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
