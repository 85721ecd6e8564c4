"""BTC pipeline benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload backfill_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program together
with the harness (perfbench/build.sbt, sbt offline); later runs reuse the
build while the sources are unchanged. Each run generates its corpus from
the seed (gen.py), runs the harness JVM (perfbench.Main) and prints, as its
last line, one JSON object: correct, attempted, failed and the metrics of
the run (end-to-end without tracing, per-layer with tracing). The exit code
is non-zero when the program is missing, the build fails, or any output
check fails.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("backfill_bulk", "watch_tail")
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's directory
sys.path.insert(0, HERE)
import gen  # noqa: E402


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def sources():
    """The files the build reads: the program's main sources and ours."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compiles when the sources changed; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == h.hexdigest():
                with open(cp_file) as f:
                    return f.read()
    log("building (sbt compile) ...")
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: needs Spark (SPARK_HOME or spark-submit on the PATH)")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=%s/.sbt/repositories -Dsbt.offline=true -Xmx2g"
                   % os.path.expanduser("~"))
    logf = os.path.join(OUT, "build.log")
    with open(logf, "w") as lf:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(logf) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if l.startswith("/") and ".jar" in l]
    if r.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        raise SystemExit("perfbench: build failed (%s)" % logf)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "etl",
                                       "BtcPipeline.scala")):
        raise SystemExit("perfbench: run from the repository root; the program's "
                         "sources (src/main/scala/graft/etl) are not here")
    os.makedirs(OUT, exist_ok=True)
    cp = build()

    run = os.path.join(OUT, "run-%d" % os.getpid())
    data, work = os.path.join(run, "data"), os.path.join(run, "work")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        cmd = (["java", "-Xmx3g", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
               + [x for p in JAVA_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Main", a.workload, str(a.seconds), str(a.trace),
                  data, work])
        with open(os.path.join(OUT, "last-run.log"), "w") as errf:
            # the harness starts its session while the corpus is written
            p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=errf, text=True)
            try:
                gen.generate(a.seed, data)
                open(os.path.join(data, "READY"), "w").close()
                out, _ = p.communicate(timeout=170)
            finally:
                if p.poll() is None:
                    p.kill()
                p.wait()
        result = [l[len("RESULT "):] for l in out.splitlines() if l.startswith("RESULT ")]
        if not result:
            raise SystemExit("perfbench: harness exited %d without a result (see %s)"
                             % (p.returncode, os.path.join(OUT, "last-run.log")))
        res = json.loads(result[-1])
        if not all(math.isfinite(m["value"]) for m in res["metrics"].values()):
            raise SystemExit("perfbench: a metric is not a finite number: %s" % result[-1])
        print(json.dumps(res))
        return 0 if p.returncode == 0 and res["correct"] else 1
    finally:
        shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
