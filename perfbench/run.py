#!/usr/bin/env python3
"""MWAS job benchmark.

    python3 perfbench/run.py --workload cli_perm --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --smoke

Builds the program and the harness from source (sbt, in this directory)
when the sources changed, generates the workload's inputs from the seed,
measures in a fresh JVM, checks every output, and prints one JSON object as
the last line of standard output. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
TARGET = os.path.join(HERE, "target")

WORKLOADS = ("cli_perm", "cli_ttest_x10", "server_closed")
SMOKE_SCALE = 0.1  # biosample scale of the smoke runs
DEADLINE_S = 170  # a run ends within this many seconds after the build

JVM_OPTS = [
    "-Xms3g", "-Xmx3g", "-Xss4m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(code, msg):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "mwas", "MwasCli.scala")):
        die(2, f"no program sources under {ROOT}/src/main/scala; run from a "
               "checkout of the repository")
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp_file = os.path.join(TARGET, "source.sha256")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building (sbt compile)")
    try:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.forcestart=false", "compile", "writeClasspath"],
            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
            timeout=840)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(3, f"build failed: {e}")
    if r.returncode != 0 or not os.path.isfile(cp_file):
        die(3, f"build failed with exit code {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read()


def java(cp, work, args, deadline):
    """Run perfbench.Main in its own JVM; return its stdout lines."""
    t0 = time.time()
    timeout = deadline - t0
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "perfbench.Main", *args]
    with open(os.path.join(work, "jvm.log"), "wb") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(4, f"measurement timed out after {timeout:.0f} s")
    with open(os.path.join(work, "jvm.log"), "rb") as f:
        text = f.read().decode(errors="replace")
    if p.returncode != 0:
        sys.stderr.write(text[-4000:])
        die(5, f"measurement exited with {p.returncode}")
    for line in text.splitlines():
        if line.startswith("[perfbench]"):
            log(line)
    log(f"measured in {time.time() - t0:.1f} s")
    return out.decode().splitlines()


def run_once(cp, workload, seed, seconds, trace, scale=1.0):
    """Generate, measure, check; return the result object."""
    deadline = time.time() + DEADLINE_S
    work = os.path.join(WORK, f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        exp = gen.generate(workload, seed, scale, os.path.join(work, "in"))
        log(f"generated {exp['valid_rows']} input rows, "
            f"{sum(e['contrasts'] for e in exp['per_bp'].values())} contrasts "
            f"in {time.time() - t0:.1f} s")
        lines = java(cp, work, [workload, str(seed), str(seconds), str(trace),
                                work], deadline)
        for line in lines[:-1]:
            if line.startswith('{"host"'):
                print(line, flush=True)
            else:
                log(line)
        result = json.loads(lines[-1]) if lines else None
        spans = os.path.join(work, "spans.json")
        if trace and os.path.isfile(spans):
            shutil.copy(spans, os.path.join(WORK, f"spans-{workload}-{seed}.json"))
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def smoke(cp):
    """Every workload (server_closed too) at SMOKE_SCALE, traced and
    untraced: each metric BENCHMARK.json names is printed with its unit and
    every output check passes."""
    s = spec()
    ok = True
    for w in WORKLOADS:
        for trace in (0, 1):
            r = run_once(cp, w, 7, 1, trace, SMOKE_SCALE)
            want = {m["name"]: m["unit"] for m in
                    s["per_layer" if trace else "end_to_end"]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            good = (r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
                    and got == want and all(
                        isinstance(v["value"], (int, float))
                        for v in r["metrics"].values()))
            log(f"smoke {w} trace={trace}: "
                f"{'ok' if good else 'FAIL'} {json.dumps(r)[:300]}")
            ok = ok and good
    print(json.dumps({"smoke": ok}))
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required")
    cp = build()
    os.makedirs(WORK, exist_ok=True)
    if a.smoke:
        sys.exit(0 if smoke(cp) else 1)
    r = run_once(cp, a.workload, a.seed, a.seconds, a.trace)
    if not r:
        die(6, "no result")
    print(json.dumps(r))


if __name__ == "__main__":
    main()
