#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 graftbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run builds the program and the
harness from source with sbt (into $CARGO_TARGET_DIR, default .bench_build);
later runs reuse the build while the sources are unchanged. Each run writes a
seeded corpus under graftbench-work/, starts one JVM (Spark local[4]) that sets
up, warms up and measures the workload with one closed-loop client, then
prints one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end-to-end ones, with --trace 1
its per-layer ones. A failed output check makes the run exit nonzero.
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
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("serve", "batch")
# The seeded tree: small, because query latency here is bound by Spark job
# scheduling, not corpus size, while a cold JVM's set-up grows with it.
CORPUS = {"n_files": 60, "total_bytes": 120_000}
# Passed to BenchMain: queries per batch op, the fixed recall query set and
# the ANN recall@10 floor below which a run fails, queries per layer probe.
RUN = {"batch_size": 8, "recall_queries": 64, "recall_floor": 0.5, "layer_queries": 1}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the harness and the program's sources."""
    roots = [os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("graftbench: no Spark installation (set SPARK_HOME)")
    return home


def build(build_dir):
    """Compile with sbt unless the stamped classpath matches the sources."""
    h = hashlib.sha1(build_dir.encode())
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(build_dir, exist_ok=True)
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no JVM of the build writes its perf-data file into the system temp dir
    env = dict(os.environ, SPARK_HOME=spark_home(), JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", f"-Dgraftbench.target={build_dir}",
           f"-Dsbt.global.base={os.path.join(build_dir, 'sbt-global')}",
           f"-Djava.io.tmpdir={tmp}", "compile", "export Runtime/fullClasspath"]
    log("building (sbt compile)")
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("graftbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:  # written last: it vouches for cp_file
        f.write(stamp)
    return cp


JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_jvm(cp, config_path, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(work, "indexes"), exist_ok=True)
    # C1 only: with the C2 compiler a minute-long run never settles (op
    # latencies kept falling by a fifth through the window, at a pace set by
    # the host's load); C1 code is ready within the warm-up, reaches
    # the same latencies on these scheduling-bound ops and sets up faster.
    # C1 alone gets a 48 MB code cache, which a run outgrows (about 54 MB of
    # compiled code within the first fifteen queries): the sweeper's
    # flushing and recompiling then slowed the twelfth to fifteenth queries
    # by up to 60%.
    # G1 ran a concurrent marking cycle every few seconds (humongous
    # allocations start them) beside the query threads; the parallel
    # collector has no concurrent threads and paused a third as often.
    cmd = ["java", "-Xmx2g", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=256m", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", f"-Dgraftbench.redirect={os.path.join(work, 'indexes')}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.bench.BenchMain", config_path]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit("graftbench: JVM timed out")
    finally:
        # on a timeout, an error or SIGTERM (see main) the JVM must not
        # outlive the run
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def cpu_ticks():
    """The machine's cumulative cpu ticks from /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal). On a virtual machine, steal is time
    the hypervisor gave the vcpus to others: it explains a run that is slow
    throughout."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # SIGTERM unwinds like an error, so every child is stopped and the work
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("graftbench: terminated"))

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "Graft.scala")):
        sys.exit("graftbench: run from the root of a graft checkout (src/main/scala missing)")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build(os.path.abspath(build_dir))

    work = os.path.join(ROOT, "graftbench-work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        tree = os.path.join(work, "corpus")
        plan = corpus.generate(args.seed, tree, **CORPUS)
        plan_path = os.path.join(work, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        out_path = os.path.join(work, "out.json")
        config = dict(RUN, workload=args.workload, corpus=tree, work=work,
                      plan=plan_path, seconds=args.seconds, trace=args.trace, out=out_path)
        config_path = os.path.join(work, "config.json")
        with open(config_path, "w") as f:
            json.dump(config, f)
        t0, cpu0 = time.time(), cpu_ticks()
        code = run_jvm(cp, config_path, work)
        cpu1 = cpu_ticks()
        steal = (cpu1[7] - cpu0[7]) / max(1, sum(cpu1) - sum(cpu0))
        log(f"jvm exit {code} after {time.time() - t0:.1f}s; host steal {steal:.1%} of cpu time")
        if not os.path.exists(out_path):
            sys.exit(f"graftbench: the run wrote no results (exit {code})")
        raw = json.load(open(out_path))
        for msg in raw.get("failures", []):
            log(f"CHECK FAILED: {msg}")
        for line in report.summary(raw):
            log(line)
        result = report.result(raw, args.trace == 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    if not result["correct"] or code != 0:
        sys.exit(1)


if __name__ == "__main__":
    main()
