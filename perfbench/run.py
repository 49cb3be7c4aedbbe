#!/usr/bin/env python3
"""Benchmark runner: build the engine with the harness, run one workload.

    python3 perfbench/run.py --workload etl-day --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles `src/main/scala`
together with `perfbench/src` (sbt, offline) and caches the classpath under
`.bench_build/`; later runs reuse it while the sources are unchanged. The
harness runs in one JVM on `local[N]` (N = available cores); its last stdout
line is the result JSON, checked here against the metric names declared in
BENCHMARK.json. Everything a run writes stays under `.bench_build/`.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("etl-day", "queries-light", "queries-heavy")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 175
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    """Digest of everything the build compiles, to reuse a cached build."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in roots:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the cached build matches the sources; returns the classpath."""
    stamp = os.path.join(BUILD_DIR, "build.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            start_new_session=True)
        code = wait(proc, BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    classpath = next((l.strip() for l in reversed(lines)
                      if ".jar" in l and "classes" in l and not l.startswith("[")), None)
    if code != 0 or classpath is None:
        fail("build failed:\n" + "\n".join(lines[-30:]))
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath


def wait(proc, timeout):
    """Waits for `proc`; kills its whole process group on timeout or interrupt."""
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, os.getcwd())}")
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found at the repository root")
    expected = declared_metrics(args.trace)
    os.makedirs(BUILD_DIR, exist_ok=True)
    classpath = build()

    work = os.path.join(BUILD_DIR, f"run-{os.getpid()}-{int(time.time())}")
    logs = os.path.join(BUILD_DIR, "logs")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    cmd = (["java"] + [a for p in JDK17_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work,
            "--data", os.path.join(HERE, "data", "sf0.01"),
            "--queries", os.path.join(HERE, "queries.json")])
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                    stdin=subprocess.DEVNULL, text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except BaseException:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"run did not finish within {RUN_TIMEOUT_S}s (log: {os.path.relpath(log, ROOT)})")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = out.rstrip("\n").splitlines()
    for line in lines[:-1]:
        print(line)
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        with open(log) as fh:
            tail = fh.read().splitlines()[-30:]
        fail(f"no result (exit {proc.returncode}):\n" + "\n".join(tail))
    got = set(result["metrics"])
    if got != expected:
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(expected - got)}, "
             f"extra {sorted(got - expected)}")
    print(json.dumps(result))
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
