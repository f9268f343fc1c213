#!/usr/bin/env python3
"""Build the library and its benchmark from source, then run one workload.

Run from the root of a checkout:

    python3 perfbench/run.py --workload wordcount --seed 1 --seconds 20 --trace 0

Workloads: wordcount and upsert (streams) and registry (batch queries);
perfbench/METRICS.md says what each runs and measures. The last stdout
line is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`. The exit code is 1 when
an output check fails, 2 when the checkout cannot be built or run.

The first run builds with sbt (offline) and caches the runtime classpath
in `.bench_build/`; later runs start the JVM directly. Every run starts
from an empty work directory under `.bench_build/work`.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("wordcount", "upsert", "registry")
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Names, sizes and mtimes of every input of the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env(tmp):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # sbt's own scratch files stay in the checkout too
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return env


def classpath():
    """Compile the library and the benchmark; return the runtime classpath."""
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "classpath.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building library and benchmark with sbt")
    t0 = time.time()
    tmp = os.path.join(OUT, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(tmp), stdout=subprocess.PIPE, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    cp = lines[-1].strip() if lines else ""
    if proc.returncode != 0 or "perfbench" not in cp or cp.startswith("["):
        fail(f"build failed (sbt exit {proc.returncode})")
    os.makedirs(OUT, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record-digests", help="write the registry output digests to this file")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the root of a checkout of the library: build.sbt or src/main/scala is missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp = classpath()
    work = os.path.join(OUT, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    # session settings are fixed by the benchmark, not by the caller's env
    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_GRAFT_", "GRAFT_"))}
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", work, "--data", os.path.join(BENCH, "data"),
              "--cpus", str(cpus), "--launched-at-ms", repr(time.time() * 1000)])
    if args.record_digests:
        cmd += ["--record-digests", os.path.abspath(args.record_digests)]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", code=1)
    results = [l for l in out.splitlines() if l.startswith('{"correct"')]
    for l in out.splitlines():
        if not l.startswith('{"correct"'):
            print(l, file=sys.stderr)
    if not results:
        fail(f"no result (JVM exit {proc.returncode})", code=1)
    print(results[-1], flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
