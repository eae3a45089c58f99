#!/usr/bin/env python3
"""Cell-KN engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt depends on the root
build); later runs reuse the build while the sources are unchanged. Each
run is a fresh JVM at local[N], N = min(4, nproc), with a fixed heap. It
writes a fresh result artifact keyed by core count and workload under
perfbench/.work/results/ (removed at start, written through a temporary
file and a rename) and prints, as its last stdout line, the JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json untraced, the per-layer metrics traced.
"""

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(WORK, "build")
WORKLOADS = ("cellkn_etl_query", "corpus_ann")
HEAP = "2g"
RUN_LIMIT_S = 170  # a run must end within 180 s
BUILD_LIMIT_S = 850  # a first run that builds may take 900 s

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same set
# the root build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


CHILDREN = []  # process groups this run started, killed if it is stopped


def stop_children(signum, _frame):
    for p in CHILDREN:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(128 + signum)


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, in a stable order."""
    out = []
    for rel in ("build.sbt", "project/build.properties",
                "perfbench/build.sbt", "perfbench/project/build.properties"):
        out.append(os.path.join(ROOT, rel))
    for top in ("src/main", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(ROOT, top)):
            out.extend(os.path.join(d, f) for f in fs)
    return sorted(out)


def source_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(digest):
    """Compile engine + benchmark; return (classpath, built_now)."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g")
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        CHILDREN.append(p)
        try:
            out, _ = p.communicate(timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("build timed out")
        lf.write(out)
    if p.returncode != 0:
        fail(f"build failed (see {log})")
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if not lines:
        fail(f"build printed no classpath (see {log})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp, True


def remove(path):
    if os.path.isdir(path):
        subprocess.run(["rm", "-rf", path], check=True)
    elif os.path.lexists(path):
        os.remove(path)


def write_atomic(path, text):
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    start = time.time()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)

    missing = [p for p in source_files() if not os.path.isfile(p)]
    if missing or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the engine sources are not in this checkout "
             f"(missing {len(missing)} build files), nothing to benchmark", 2)

    nproc = len(os.sched_getaffinity(0))
    cores = min(4, nproc)
    trace = a.trace == "1"
    results = os.path.join(WORK, "results")
    key = f"c{cores}_{a.workload}_trace{a.trace}"
    artifact = os.path.join(results, f"result_{key}.json")
    trace_file = os.path.join(results, f"trace_{key}.json")
    os.makedirs(results, exist_ok=True)
    remove(artifact)
    remove(trace_file)

    digest = source_digest()
    cp, built = build(digest)
    limit = (BUILD_LIMIT_S + 30 if built else RUN_LIMIT_S) - (time.time() - start)

    run = os.path.join(WORK, "run")
    remove(run)
    os.makedirs(os.path.join(run, "tmp"))
    out_tmp = os.path.join(run, "result.json")
    trace_tmp = os.path.join(run, "trace.json")
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run}/tmp",
           "-Dsun.net.httpserver.nodelay=true"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--cores", str(cores), "--work", run,
            "--out", out_tmp]
    if trace:
        cmd += ["--trace-out", trace_tmp]
    log = os.path.join(WORK, f"jvm_{key}.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        CHILDREN.append(p)
        try:
            code = p.wait(timeout=max(limit, 10))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded its time limit (see {log})")
    if code != 0 or not os.path.exists(out_tmp):
        fail(f"the benchmark JVM exited with {code} (see {log})")

    with open(out_tmp) as f:
        res = json.load(f)
    if trace:
        # tracing overhead: this run's batch job against the untraced run's,
        # both in a fresh JVM; only an untraced run of the same sources,
        # seed and run length is a fair baseline, and only correct runs
        # have finite times
        base = os.path.join(results, f"result_c{cores}_{a.workload}_trace0.json")
        b = {}
        if os.path.exists(base):
            with open(base) as f:
                b = json.load(f)
        same = (b.get("host", {}).get("source_digest") == digest
                and b.get("seed") == a.seed and b.get("seconds") == a.seconds)
        if same and b.get("correct") and res["correct"]:
            res["trace_overhead"] = {
                "share": res["batch_s"] / b["batch_s"] - 1,
                "untraced_batch_s": b["batch_s"]}
    res["host"] = {
        "nproc": nproc, "local_cores": cores, "max_heap": HEAP,
        "git_commit": git_commit(), "source_digest": digest,
        "tracing": trace, "built_this_run": built,
    }
    try:
        write_atomic(artifact, json.dumps(res, indent=1))
        if trace:
            os.replace(trace_tmp, trace_file)
    except OSError as e:
        fail(f"could not write the result artifact: {e}")

    # a non-finite value (a failed request's latency) arrives as "Infinity"
    named = ", ".join(f"{k}={float(v['value']):.6g} {v['unit']} (n={v['samples']})"
                      for k, v in res["named"].items())
    print(f"workload {a.workload} seed {a.seed}: inputs {res['inputs']} "
          f"digest {res['input_digest'][:16]}")
    print(f"setup_s each {['%.3f' % s for s in res['setup_s_each']]}; "
          f"request_p50_ms over {res['request_samples']} requests; {named}")
    print("phases: " + ", ".join(f"{k} {res[k]:.2f}" for k in (
        "session_s", "generate_s", "prepare_s", "loop_s", "op_checks_s", "run_checks_s")))
    print(f"ops attempted {res['attempted']} failed {res['failed']} "
          f"(exception {res['failed_exception']}, check {res['failed_check']}); "
          f"run checks: {res['run_checks'] or 'all passed'}")
    if "trace_overhead" in res:
        o = res["trace_overhead"]
        print(f"tracing overhead {o['share']:+.3f} of the batch job "
              f"(untraced run of the same seed: {o['untraced_batch_s']:.3f} s)")
    elif trace:
        print("tracing overhead not computed: no correct untraced run of these "
              f"sources with seed {a.seed} and {a.seconds} s in this checkout")
    for f in res["failures"]:
        print(f"  failed: {f}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
