#!/usr/bin/env python3
"""Run one graft benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
harness (perfbench/harness, its own sbt project) into jars; later runs reuse
them while the sources are unchanged. Each run is one JVM at local[<cores>];
it prints every metric as "metric <name> = <value> <unit>" and, as its last
stdout line, one JSON object with the keys correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). Traced runs also write their spans to
.bench_build/perfbench/spans/.

--warmup <n> runs n untimed warm-up cycles instead of one.
--small runs the self-test shape of the workload (tiny inputs, every
operation once, traced) and exits non-zero when an assertion fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("ingest_maintain", "corpus")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 890

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: graft's sources and build files and
    the harness's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HARNESS, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d) if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile graft and the harness into jars; return the runtime classpath
    and whether this call built it."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH", 3)
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export harness/Runtime/fullClasspathAsJars"]
    print("perfbench: building graft and the harness ...", file=sys.stderr)
    proc = subprocess.Popen(cmd, cwd=HARNESS, env=sbt_env(), stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    CHILDREN.append(proc)
    try:
        out, _ = proc.communicate(timeout=BUILD_LIMIT_S - 300)
    except subprocess.TimeoutExpired:
        stop(proc)
        fail("build timed out", 3)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, True


CHILDREN = []


def alive(pid):
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def stop(proc):
    """Kill `proc` and wait for it."""
    if proc.poll() is None:
        proc.kill()
    proc.wait()


def on_signal(signum, _frame):
    """A stopped run stops its build or JVM first."""
    for proc in CHILDREN:
        stop(proc)
    sys.exit(128 + signum)


def run_jvm(cp, jvm_args, timeout):
    """Run perfbench.Main in a fresh work directory under .bench_build/.
    Returns (exit code, stdout lines); the code is None on a timeout."""
    work_root = os.path.join(BUILD, "work")
    # work directories of runs that were killed before they could clean up
    if os.path.isdir(work_root):
        for old in os.listdir(work_root):
            pid = old.rsplit("-", 1)[-1]
            if pid.isdigit() and not alive(int(pid)):
                shutil.rmtree(os.path.join(work_root, old), ignore_errors=True)
    work = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d))
    java = shutil.which("java")
    if java is None:
        fail("java is not on PATH", 3)
    cmd = ([java, "-Xmx2g", "-XX:+UseG1GC", "-XX:MaxGCPauseMillis=200"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
              f"-Dspark.sql.warehouse.dir={work}/warehouse", "-Dspark.ui.enabled=false",
              f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp", f"-Djna.tmpdir={work}/tmp",
              f"-Dderby.system.home={work}/tmp",
              "-cp", cp, "perfbench.Main", *jvm_args,
              "--work", os.path.join(work, "data"), "--watch-stdin"])
    # the JVM exits when its stdin closes, so it cannot outlive this process
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    CHILDREN.append(proc)
    out = []
    reader = threading.Thread(target=lambda: out.extend(proc.stdout.read().splitlines()), daemon=True)
    reader.start()
    try:
        proc.wait(timeout=timeout)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        stop(proc)
        code = None
    reader.join()
    proc.stdin.close()
    CHILDREN.remove(proc)
    shutil.rmtree(work, ignore_errors=True)
    return code, out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true")
    ap.add_argument("--warmup", type=int, help="untimed warm-up cycles (default 1)")
    args = ap.parse_args()
    started = time.monotonic()
    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, on_signal)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources around {HERE}: run from the root of a graft checkout")
    cp, built = build()

    spans = None
    if args.trace or args.small:
        os.makedirs(os.path.join(BUILD, "spans"), exist_ok=True)
        spans = os.path.join(BUILD, "spans", f"{args.workload}-seed{args.seed}.jsonl")
    jvm_args = (["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)]
                + (["--spans", spans] if spans else [])
                + (["--small"] if args.small else [])
                + (["--warmup", str(args.warmup)] if args.warmup is not None else []))
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - started)
    code, lines = run_jvm(cp, jvm_args, timeout=max(10.0, limit))
    if code is None:
        fail("run timed out", 4)
    result = None
    for l in lines:
        if l.startswith("{"):
            try:
                result = json.loads(l)
            except ValueError:
                pass
        else:
            print(l)
    if code != 0 or result is None:
        fail(f"the run failed (exit {code})", 5)
    print(json.dumps(result))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
