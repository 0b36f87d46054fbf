#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the benchmark
from source with sbt (once per source digest; the build output and the
resolved classpath live under .bench_build/), then runs the benchmark in
one JVM with its working data under .bench_work/, which is removed
afterwards except for trace files and logs. Workloads: web-scan,
web-resume-skew, mstr-join, corpus-dedup.

The last line of standard output is the result JSON object
(correct/attempted/failed/metrics). Exit code 0 on a completed run,
non-zero (with no result line) when the checkout holds no program to
build, the build fails, or the benchmark JVM fails or times out.
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
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
RUN_TIMEOUT_S = 170
HEAP = "2g"
BUILD_TIMEOUT_S = 600
ARCHIVE_TIMEOUT_S = 120
WORKLOADS = ("web-scan", "web-resume-skew", "mstr-join", "corpus-dedup")

# Spark 4 on JDK 17 needs these outside spark-submit (the same list the
# root build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties"),
             os.path.abspath(__file__), os.path.join(BENCH_DIR, "log4j2.properties")]
    for r in roots:
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def tree_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def jar_dirs(cp):
    """The classpath with every directory packed into a jar: the JVM's
    class-data sharing archive accepts jars only."""
    jars_dir = os.path.join(BUILD, "jars")
    shutil.rmtree(jars_dir, ignore_errors=True)
    os.makedirs(jars_dir)
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if not os.path.isdir(entry):
            out.append(entry)
            continue
        jar = os.path.join(jars_dir, f"classes-{i}.jar")
        with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
            for d, _, names in sorted(os.walk(entry)):
                for n in sorted(names):
                    z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), entry))
        out.append(jar)
    return os.pathsep.join(out)


def java_cmd(cp_file, extra, tmp):
    return (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties")]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + extra + [f"@{cp_file}", "graftbench.Main"])


def archive_classes(cp_file):
    """Records the classes a short run loads into a class-data sharing
    archive, so every benchmark JVM starts from it. Best effort: without
    the archive the JVM loads classes from the jars as usual."""
    jsa = os.path.join(BUILD, "classes.jsa")
    work = os.path.join(WORK, "archive-run")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the recording run must not trip the behaviour-switch guard
    env = {k: v for k, v in os.environ.items() if not k.startswith("GRAFT_")}
    try:
        with open(os.path.join(BUILD, "archive.log"), "w") as log:
            run_group(java_cmd(cp_file, [f"-XX:ArchiveClassesAtExit={jsa}"], os.path.join(work, "tmp"))
                      + ["--workload", "web-scan", "--seed", "0", "--seconds", "1", "--trace", "0",
                         "--work", work], stdout=log, stderr=log, cwd=ROOT, env=env,
                      timeout=ARCHIVE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        if os.path.exists(jsa):
            os.remove(jsa)
    shutil.rmtree(work, ignore_errors=True)


def build(digest):
    """Compile once per source digest; returns the classpath argfile."""
    cp_file = os.path.join(BUILD, "classpath.args")
    stamp = os.path.join(BUILD, "digest")
    if os.path.isfile(cp_file) and os.path.isfile(stamp) and open(stamp).read() == digest:
        return cp_file
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=BENCH_DIR, env=sbt_env(), stdout=out, timeout=BUILD_TIMEOUT_S)
    lines = open(log).read().splitlines()
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    cp = lines[-1].strip()
    if os.pathsep not in cp:
        fail(f"build printed no classpath; log in {log}")
    with open(cp_file, "w") as fh:
        fh.write("-cp " + json.dumps(jar_dirs(cp)) + "\n")
    archive_classes(cp_file)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp_file


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; on timeout or interrupt the
    whole group is killed and waited for."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return ""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return ""


def result_error(line, trace):
    """Why `line` is not a result carrying exactly the metrics
    BENCHMARK.json declares for this mode (None when it is)."""
    try:
        r = json.loads(line)
    except ValueError:
        return "last line is not JSON"
    if not isinstance(r, dict) or set(r) != {"correct", "attempted", "failed", "metrics"}:
        return "last line is not a result object"
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if trace == "1" else "end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v.get("unit") for k, v in r["metrics"].items()}
    if got != want:
        return f"metrics differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(want.items()))}"
    return None


def main():
    # a terminated run still stops the JVM it started (see run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program to benchmark: build.sbt and src/main/scala are missing", 2)

    digest = tree_digest()
    cp_file = build(digest)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{int(time.time())}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jsa = os.path.join(BUILD, "classes.jsa")
    share = [f"-XX:SharedArchiveFile={jsa}"] if os.path.isfile(jsa) else []
    cmd = java_cmd(cp_file, share, tmp) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", run_dir, "--commit", git_commit(), "--tree", digest]
    log = os.path.join(WORK, f"{a.workload}-{a.seed}-trace{a.trace}.log")
    try:
        with open(log, "w") as err, open(os.path.join(run_dir, "stdout"), "w") as out:
            rc = run_group(cmd, cwd=ROOT, stdout=out, stderr=err, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"benchmark JVM timed out after {RUN_TIMEOUT_S} s; log in {log}")
    lines = [l for l in open(os.path.join(run_dir, "stdout")).read().splitlines() if l.strip()]
    # keep trace files, drop the working data
    for name in os.listdir(run_dir):
        if name.startswith("trace-") and name.endswith(".json"):
            shutil.move(os.path.join(run_dir, name), os.path.join(WORK, name))
    shutil.rmtree(run_dir, ignore_errors=True)
    err = result_error(lines[-1], a.trace) if lines else "no output"
    if rc != 0 or err:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"benchmark JVM exited {rc} without a valid result ({err}); log in {log}")
    for line in lines:
        print(line)


if __name__ == "__main__":
    main()
