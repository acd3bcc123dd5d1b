#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <serve|batch> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the harness from source
with sbt (offline) into `.bench_build/` on first use, then runs one workload
in a fresh JVM and prints, as its last stdout line, one JSON object
{"correct", "attempted", "failed", "metrics"}. Exits non-zero when the build
fails, a check fails, or the run does not finish in time.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
BENCH_DIR = os.path.join(ROOT, "perfbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    picked = []
    for top in ("src/main", "project", "perfbench"):
        base = os.path.join(ROOT, top)
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project", ".bsp"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    picked.append(os.path.join(d, f))
    picked.append(os.path.join(ROOT, "build.sbt"))
    return picked


def source_sha():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(sha):
    """Compile with sbt once per source tree; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f, open(cp_file) as g:
            built, cp = f.read().strip(), g.read().strip()
        classes = [p for p in cp.split(":") if p.endswith("/classes")]
        if built == sha and all(os.path.isdir(p) for p in classes):
            return cp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
        "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
        "-Xmx2g"])
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH_DIR, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die("build timed out; see " + log_path)
    with open(log_path) as f:
        lines = [l.strip() for l in f if l.strip()]
    if code != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (exit {code}); see {log_path}")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(sha)
    return cp


def declared_metrics(measured, trace):
    """Exactly the metrics BENCHMARK.json declares for this mode, in its units.

    Every end-to-end metric must have been measured. A per-layer metric of a
    layer the workload does not touch reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    out = {}
    for m in spec:
        value = (measured.get(m["name"]) or {}).get("value")
        if value is None and not trace:
            die(f"end-to-end metric {m['name']} was not measured", 1)
        out[m["name"]] = {"value": 0 if value is None else value, "unit": m["unit"]}
    for extra in sorted(set(measured) - set(out)):
        print(f"perfbench: undeclared metric {extra} dropped", file=sys.stderr)
    return out


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found: run from the root of a full checkout")

    sha = source_sha()
    cp = build(sha)
    work = os.path.join(BUILD, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # -Xms = -Xmx: the heap is sized once, so the peak resident set does not
    # depend on when the collector decides to grow it
    cmd += [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Dfile.encoding=UTF-8", "-Djava.io.tmpdir=" + tmp,
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    env = dict(os.environ)
    env["PERFBENCH_GIT_COMMIT"] = git_commit()
    env["PERFBENCH_SOURCE_SHA"] = sha
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    deadline = time.monotonic() + RUN_TIMEOUT_S

    def stop_child(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    signal.signal(signal.SIGALRM, stop_child)
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda *_: (stop_child(), os.waitpid(proc.pid, 0), sys.exit(1)))
    signal.alarm(RUN_TIMEOUT_S)
    last = None
    for line in proc.stdout:
        line = line.rstrip("\n")
        if line.strip():
            if last is not None:
                print(last, flush=True)
            last = line
    code = proc.wait()
    signal.alarm(0)
    if time.monotonic() > deadline:
        die(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    if code != 0:
        if last is not None:
            print(last, file=sys.stderr)
        die(f"workload process exited with {code}", 1)
    try:
        result = json.loads(last)
    except (TypeError, ValueError):
        die("workload process printed no result line", 1)
    result["metrics"] = declared_metrics(result["metrics"], a.trace)
    print(json.dumps(result), flush=True)
    if not result.get("correct"):
        die(f"{result.get('failed')} of {result.get('attempted')} operations failed their check", 1)


if __name__ == "__main__":
    main()
