#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload serve|eval|ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a graft checkout. Builds the library and the
benchmark harness from source once per source state (sbt, offline),
then starts one JVM for the run with its own scratch root — which holds
`java.io.tmpdir` (the library's artifact cache), `spark.local.dir`, the
stream checkpoints and the generated inputs — and deletes that root on
exit. Prints a stamp line (commit, cpus, seed, versions, digests) and,
last, the result line `{"correct", "attempted", "failed", "metrics"}`.
Traced runs also write their spans to `.bench_build/traces/`.
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

BUILD = ".bench_build"
HERE = "perfbench"
JVM_TIMEOUT_S = 165
# Spark 4 on JDK 17 outside spark-submit needs these (the library's
# build.sbt carries the same list for its own forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    out = []
    for top in ("src/main", "project", f"{HERE}/src/main", f"{HERE}/project"):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            out += [os.path.join(d, f) for f in files
                    if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    return sorted(out + ["build.sbt", f"{HERE}/build.sbt"])


def tree_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(stamp):
    """Compile library + harness with sbt; cache the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = p.stdout.splitlines()
    cps = [l for l in lines if "perfbench" in l and os.pathsep in l
           and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (sbt exit {p.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cps[-1].strip()


def commit():
    """(commit, dirty): git's when this is a clone, else a source-tree
    digest with dirty unknown."""
    try:
        top = subprocess.run(["git", "rev-parse", "--show-toplevel"],
                             capture_output=True, text=True, timeout=20)
        sha = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=20)
        # only this checkout's own history counts, not an enclosing repo's
        if (top.returncode == 0 and sha.returncode == 0 and
                os.path.realpath(top.stdout.strip()) == os.path.realpath(".")):
            st = subprocess.run(["git", "status", "--porcelain"],
                                capture_output=True, text=True, timeout=20)
            return sha.stdout.strip(), str(bool(st.stdout.strip())).lower()
    except (OSError, subprocess.SubprocessError):
        pass
    return "tree:" + tree_hash()[:16], "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["serve", "eval", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")
            and os.path.isfile(f"{HERE}/build.sbt")):
        die("run from the root of a graft checkout (library sources not found)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")

    cp = build(tree_hash())
    sha, dirty = commit()
    cores = max(1, min(4, os.cpu_count() or 1))
    run_root = os.path.abspath(os.path.join(
        BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(os.path.join(run_root, "tmp"))
    traces = os.path.abspath(os.path.join(BUILD, "traces"))
    os.makedirs(traces, exist_ok=True)

    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd += ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_root}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dperfbench.commit={sha}", f"-Dperfbench.dirty={dirty}",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--root", run_root, "--cores", str(cores)]
    if a.trace:
        cmd += ["--spans", os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")]

    # a terminated runner still stops its JVM and removes the run root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=run_root, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_root, ignore_errors=True)
        die(f"run exceeded {JVM_TIMEOUT_S}s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_root, ignore_errors=True)
        raise
    shutil.rmtree(run_root, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        die(f"run failed (jvm exit {proc.returncode})")
    stamp, result = json.loads(lines[-2]), json.loads(lines[-1])
    print(json.dumps(stamp))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
