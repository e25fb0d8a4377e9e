#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the repository's sbt
project and the benchmark harness (perfbench/build.sbt) from source; later
runs reuse the build while the sources are unchanged. Each run starts one
JVM with local[N] Spark, N = min(4, cpus) - 1, in a scratch directory under
.bench_work/ that is removed afterwards; traced runs leave their spans and
per-batch tables in .bench_work/trace/.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = "perfbench"
WORK = ".bench_work"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every build input, so a changed source forces a rebuild."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            f"{BENCH}/build.sbt", f"{BENCH}/project/build.properties", f"{BENCH}/src/main"]
    for top in tops:
        path = os.path.join(root, top)
        if os.path.isfile(path):
            files = [path]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def launch_files(root):
    """Builds when a source changed and returns the harness's runtime
    classpath and the JVM options of the repository's build (the module
    options Spark needs on JDK 17 outside spark-submit)."""
    target = os.path.join(root, BENCH, "target")
    stamp_file = os.path.join(target, "bench-build.stamp")
    cp_file = os.path.join(target, "bench-classpath.txt")
    opts_file = os.path.join(target, "bench-java-options.txt")
    stamp = source_stamp(root)
    fresh = all(os.path.exists(f) for f in (stamp_file, cp_file, opts_file))
    if fresh:
        with open(stamp_file) as f:
            fresh = f.read() == stamp
    if not fresh:
        build(os.path.join(root, BENCH))
        with open(stamp_file, "w") as f:
            f.write(stamp)
    with open(cp_file) as f:
        cp = f.read().strip()
    with open(opts_file) as f:
        opts = [line.strip() for line in f if line.strip()]
    return cp, opts


def build(bench):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Dsbt.server.autostart=false"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/benchLaunch"],
        cwd=bench, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ["build.sbt", "src/main/scala/graft", f"{BENCH}/build.sbt"]:
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a full checkout")

    cp, java_opts = launch_files(root)
    # One core is left to the JVM's own threads (JIT, GC, listener bus, the
    # stream's generator); WORKLOADS.md gives the spread this saves.
    cores = max(1, min(4, os.cpu_count() or 1) - 1)
    work = os.path.join(root, WORK, f"run-{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    os.makedirs(os.path.join(root, WORK, "trace"), exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Every file the JVM writes stays under the work directory.
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    # The heap options come after the build's own, so they are the ones that hold.
    cmd = (["java"] + java_opts
           + ["-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--cores", str(cores), "--out", out])
    try:
        # The JVM's stdout goes to stderr: only the result line below is ours.
        proc = subprocess.run(cmd, cwd=root, env=env, stdin=subprocess.DEVNULL,
                              stdout=sys.stderr, timeout=170)
        result = None
        if os.path.exists(out):
            with open(out) as f:
                result = f.read().strip()
            details = out + ".details"
            if os.path.exists(details):
                dest = os.path.join(root, WORK, "trace",
                                    f"{args.workload}-seed{args.seed}-trace{args.trace}-details.tsv")
                shutil.copyfile(details, dest)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        fail(f"the benchmark process exited with code {proc.returncode} and no result")
    print(result)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
