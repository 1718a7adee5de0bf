#!/usr/bin/env python3
"""The repository benchmark: build, generate inputs, run one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The engine and the benchmark are compiled
from the checkout's sources by the sbt build in this directory (the first
run builds; later runs reuse the build while no source changed). In one
fresh local[4] JVM, perfbench.Main generates the inputs from the seed
(untimed), sets the workload up, measures it for S seconds, and prints a
report line and, last, the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end_to_end metrics of BENCHMARK.json,
with --trace 1 its per_layer metrics. The exit code is 0 only when every
op and every output check passed.
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

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUNS = os.path.join(ROOT, ".bench_build", "runs")

# corpus size per workload (docs); segment_stream is a whole number of
# 2 000-doc slices, enough for the warm-up chunks and every chunk one run
# releases
DOCS = {"segment_stream": 24000, "near_dup": 2000}

HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# the engine's session settings from the root build.sbt
SPARK_PROPS = [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Dspark.sql.ansi.enabled=false",
    "-Dspark.sql.codegen.cache.maxEntries=5000",
    "-Dspark.sql.codegen.useIdInClassName=false",
]
RUN_LIMIT_S = 175


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, for the build stamp."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src", "main")]
    files = [os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it. Returns (returncode, stdout)."""
    env = kw.pop("env", dict(os.environ))
    env.pop("SPARK_LOCAL_DIRS", None)  # scratch stays inside the checkout
    p = subprocess.Popen(cmd, start_new_session=True, stdout=subprocess.PIPE,
                         text=True, env=env, **kw)
    try:
        out, _ = p.communicate(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        fail(f"timed out after {timeout:.0f} s: {' '.join(cmd[:3])} ...", 4)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build():
    """Compile engine + benchmark with sbt unless the stamp is current;
    returns the runtime classpath."""
    st = stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == st:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
    print("perfbench: building (sbt compile)", file=sys.stderr)
    code, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"], 850, cwd=BENCH_DIR, env=env)
    lines = [l for l in out.splitlines() if l and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail("build failed", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(st)
    return cp


def java(cp, main, args, heap, tmp, timeout):
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseTransparentHugePages",
            "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + SPARK_PROPS + ["-cp", cp, main] + args)
    return run_group(cmd, timeout)


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}, [w["name"] for w in spec["workloads"]]


def main():
    # a terminated run takes its child processes down with it (run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--docs", type=int, help="corpus size (default per workload)")
    a = ap.parse_args()
    t_start = time.time()

    for need in ("BENCHMARK.json", "build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a titanspark checkout: {need} missing under {ROOT}")
    metrics, workloads = expected_metrics(a.trace)
    if a.workload not in workloads or a.workload not in DOCS:
        fail(f"unknown workload {a.workload}")
    docs = a.docs or DOCS[a.workload]

    cp = build()
    t_built = time.time()
    run_dir = os.path.join(RUNS, f"{a.workload}-{a.seed}-{os.getpid()}")
    work, tmp = os.path.join(run_dir, "work"), os.path.join(run_dir, "tmp")
    for d in (work, tmp):
        os.makedirs(d, exist_ok=True)
    try:
        code, out = java(cp, "perfbench.Main",
                         ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--docs", str(docs), "--work", work],
                         HEAP, tmp, RUN_LIMIT_S - (time.time() - t_built))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        fail(f"no result from the benchmark (exit {code})", 6)
    result = json.loads(lines[-1])
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != metrics:
        missing = sorted(set(metrics) - set(got))
        extra = sorted(set(got) - set(metrics))
        wrong = sorted(k for k in got if k in metrics and got[k] != metrics[k])
        fail(f"metrics differ from BENCHMARK.json: missing {missing} extra {extra} "
             f"unit {wrong}", 7)
    for l in lines[:-1]:
        print(l)
    print(f"perfbench: {a.workload} seed {a.seed}: build check {t_built - t_start:.1f} s, "
          f"benchmark JVM {time.time() - t_built:.1f} s", file=sys.stderr)
    print(json.dumps(result))
    sys.exit(0 if code == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
