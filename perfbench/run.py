#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload replicate --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds graft and the
benchmark from source with sbt (offline) into .bench_build/ and records
the classpath; later runs reuse it until a source file changes. Each run
starts one JVM (Spark local[nproc]) that sets up, measures for --seconds,
checks its outputs and prints one JSON line. Everything the run writes
stays under .bench_build/ in the checkout.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("replica", "corpus_graph")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"
# Fewer GC and JIT threads than cores, so they compete less with Spark's
# local[nproc] task threads; run-to-run spread on 4 cores dropped with them.
QUIET_JVM = ["-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
             "-XX:CICompilerCount=2"]
# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit normally injects (the repository build passes the same).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar")
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every input of the build, in a fixed order."""
    out = []
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        out += sorted(p for p in base.rglob("*") if p.is_file())
    return out + [HERE / "build.sbt", HERE / "project" / "build.properties"]


def source_stamp(files):
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(stamp):
    """Compile with sbt once per source state; return the runtime classpath."""
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if (cp_file.exists() and stamp_file.exists()
            and stamp_file.read_text() == stamp):
        return cp_file.read_text().strip()
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={BUILD / 'tmp'}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    try:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    if r.returncode != 0:
        print(r.stdout[-6000:], file=sys.stderr)
        die("build failed")
    lines = [l.strip() for l in r.stdout.splitlines()
             if l.strip() and not l.startswith("[")]
    if not lines or ".jar" not in lines[-1]:
        print(r.stdout[-3000:], file=sys.stderr)
        die("build printed no classpath")
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


def git_sha():
    if not (ROOT / ".git").exists():
        return "none"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        die("--seconds must be at least 1")
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"graft sources not found under {ROOT / 'src'}: run from the "
            "root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME must point at a Spark 4 installation")

    files = source_files()
    stamp = source_stamp(files)
    cp = build(stamp)

    work = BUILD / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    traces = BUILD / "traces"
    traces.mkdir(exist_ok=True)
    log_path = BUILD / "logs" / f"{args.workload}-{args.seed}-t{args.trace}.log"
    log_path.parent.mkdir(exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", *QUIET_JVM, *ADD_OPENS,
            f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--heap", HEAP,
            "--git-sha", git_sha(), "--src-sha", stamp[:16],
            "--trace-out",
            str(traces / f"{args.workload}-{args.seed}.json")])
    last = None
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=log, stdin=subprocess.DEVNULL,
                                text=True, start_new_session=True)
        deadline = time.monotonic() + RUN_TIMEOUT_S

        def on_alarm(*_):
            raise TimeoutError

        signal.signal(signal.SIGALRM, on_alarm)
        signal.alarm(RUN_TIMEOUT_S)
        try:
            for line in proc.stdout:
                line = line.rstrip("\n")
                if line.startswith('{"correct"'):
                    last = line
                if line:
                    print(line if not line.startswith('{"correct"')
                          else "[result] " + line, flush=True)
            proc.wait(timeout=max(1, deadline - time.monotonic()))
        except (TimeoutError, subprocess.TimeoutExpired):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            die(f"run exceeded {RUN_TIMEOUT_S}s (log: {log_path})", 3)
        finally:
            signal.alarm(0)
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or last is None:
        tail = log_path.read_text()[-3000:] if log_path.exists() else ""
        print(tail, file=sys.stderr)
        die(f"workload exited with {proc.returncode} (log: {log_path})", 1)
    result = json.loads(last)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        die("malformed result line", 1)
    print(json.dumps(result, separators=(",", ":")), flush=True)
    sys.exit(0 if result["correct"] and result["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
