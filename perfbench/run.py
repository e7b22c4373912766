#!/usr/bin/env python3
"""graft benchmark: closed-loop op mixes over the public query registry.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. One run:

1. builds the program (`src/main/scala`) and the benchmark's harness
   (`perfbench/src`) with the Scala compiler that ships among Spark's jars
   into `.bench_build/bin`, once per source state;
2. generates the fixture (`fixture.py`, fixed data seed) under a scratch
   root of its own, `.bench_build/runs/<id>`, which also holds the JVM's
   `java.io.tmpdir`, Spark's local dirs and `SPARK_GRAFT_CKPT_DIR`, and is
   deleted at exit;
3. launches one JVM with a fixed heap that runs the workload's ops as one
   client thread on `local[nproc]` (`graftbench.Main`): untimed warm-up
   passes, the first of which dumps every op's result, then whole timed
   passes until `--seconds` have passed, each in an order the seed
   permutes;
4. checks each dumped result against its `SparkEntry.oracleSql` query in
   DuckDB (`oracle.py`); a mismatch fails every op of that query;
5. prints diagnostics, then one JSON line: with `--trace 0` the end-to-end
   metrics (listeners off), with `--trace 1` the per-layer metrics from
   Spark's listeners (attached through static confs, so child sessions
   are seen), and writes a span file under `.bench_build/traces`.

The exit code is 0 only when every op succeeded and matched its oracle.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import fixture  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

# Each workload is one op mix, chosen for the layer it stresses, and the
# number of untimed passes after the first (dumping) pass that bring the
# mix to its steady speed. A mix is kept small enough that a run's set-up
# (JVM start, warm-up passes) takes well under half a minute on a 4-core
# x86-64 VM, which keeps 22 runs of every workload within the benchmark's
# time budget.
WORKLOADS = {
    # Registry calls that run Spark jobs while building the DataFrame
    # (rounds of collects, writes and read-backs inside the call): where
    # fusing or pruning rounds acts.
    "loops": {"warm": 3, "ops": [
        "dq10_exact_quantiles", "pp01_fanout_diamond", "io03_orc_roundtrip"]},
    # Micro-batch queries on tuned child sessions (Streams.stateTuned, the
    # pp02 pipes diamond): per-trigger planning, state commit and stream
    # query start/stop dominate.
    "streams": {"warm": 2, "streaming": True, "ops": [
        "st01_stream_tumbling", "st03_stateful_running", "pp02_stream_diamond"]},
}
SF = 0.001
# The run's seed permutes the op order of every pass; the fixture is fixed,
# so runs with different seeds do the same work (ops whose rounds depend on
# the data values, such as dq10's quantile search, would otherwise spread).
FIXTURE_SEED = 42
HEAP = "3g"
# Co-tenancy reference: the markers' wall time on an idle 4-core x86-64
# host (100M-step FNV spin; one thread, then one per core). A run whose
# markers exceed 1.25x these is flagged as measured on a shared host.
CALIB_REF_S = {"one": 0.18, "all": 0.20}
CALIB_FLAG_RATIO = 1.25
RUN_LIMIT_S = 170
# The JVM compiles with its first JIT tier only. With the second tier, a
# run's passes keep getting faster for 30-60 s while the optimising
# compiler works through its queue (on a 4-core host, slower still when
# the host is shared), so every timed pass would sit somewhere on that
# curve. The first tier compiles a method after a count of calls, so
# lowering the counts brings the mix to its steady speed within the
# warm-up passes; what the program does per op still shows in full. The
# first tier alone would get a 48 MB code cache, which the classes Spark
# generates per query fill within a minute; the JVM then throws compiled
# code away and compiles it again, in bursts of seconds.
JIT = ["-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.1",
       "-XX:ReservedCodeCacheSize=256m"]
# Spark 4 on JDK 17 outside spark-submit needs these (as build.sbt).
ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
BIN = os.path.join(BUILD, "bin")
JAR = os.path.join(BIN, "graft-bench.jar")
CDS = os.path.join(BIN, "classes.jsa")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            cands.append(m.group(1))
    except OSError:
        pass
    for c in cands:
        if os.path.isdir(c) and any(n.startswith("scala-compiler") for n in os.listdir(c)):
            return c
    fail("no Spark jar directory with a Scala compiler (set SPARK_HOME)")


def scala_sources(top):
    return sorted(os.path.join(d, n) for d, _, ns in os.walk(top)
                  for n in ns if n.endswith(".scala"))


def build(jars, cores):
    """Compile program + harness into one jar and record a class-data-sharing
    archive of the classes a run loads; once per source state. The archive
    cuts JVM and Spark start-up (~7 s of a ~38 s run on a 4-core host)."""
    srcs = scala_sources(PROGRAM_SRC) + scala_sources(HARNESS_SRC)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BIN, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return stamp
    shutil.rmtree(BIN, ignore_errors=True)
    classes = os.path.join(BUILD, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp, f"@{args_file}"],
                       stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    os.remove(args_file)
    if r.returncode != 0:
        fail("build failed")
    os.makedirs(BIN)
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, ns in os.walk(classes):
            for n in ns:
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    shutil.rmtree(classes)
    with Run("cds", 0) as run:
        fixture.write(run.path("fixture"), FIXTURE_SEED, SF)
        run.jvm(jars, run.args([w["ops"][0] for w in WORKLOADS.values()], 0, 0, 0, 0, cores),
                time.time() + 600, dump_cds=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return stamp


def tree_size(top):
    files = total = 0
    for d, _, ns in os.walk(top):
        for n in ns:
            try:
                total += os.lstat(os.path.join(d, n)).st_size
                files += 1
            except OSError:
                pass
    return files, total


def commit_id():
    """HEAD of the checkout, or None when the checkout is not a git work tree."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                              capture_output=True, text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def end_to_end(recs):
    setup = next(r for r in recs if r["k"] == "setup")
    passes = [r for r in recs if r["k"] == "pass"]
    ops = [r for r in recs if r["k"] == "op" and r["pass"] >= 0]
    return {
        "setup_s": (setup["jvm_s"] + setup["session_s"] + setup["warmup_s"], "s"),
        "pass_s": (statistics.median(p["s"] for p in passes), "s"),
        # Each op's median latency, as a geometric mean over the mix: every
        # op weighs the same, whatever its share of the pass.
        "op_p50_gmean_s": (statistics.geometric_mean(
            [statistics.median(o["total_s"] for o in ops if o["name"] == n)
             for n in sorted({o["name"] for o in ops})]), "s"),
        "heap_peak_mb": (max([setup["heap_mb"]] + [p["heap_mb"] for p in passes]), "MB"),
    }


class Run:
    """One run's scratch root, JVM and cleanup."""

    def __init__(self, workload, seed):
        self.dir = os.path.join(BUILD, "runs", f"{workload}-s{seed}-{os.getpid()}")
        self.proc = None

    def __enter__(self):
        shutil.rmtree(self.dir, ignore_errors=True)
        for d in ("tmp", "ckpt", "dump", "fixture"):
            os.makedirs(os.path.join(self.dir, d))
        for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(s, self._signalled)
        return self

    def _signalled(self, signum, _frame):
        self.__exit__(None, None, None)
        sys.exit(128 + signum)

    def __exit__(self, *_):
        if self.proc is not None and self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        shutil.rmtree(self.dir, ignore_errors=True)

    def path(self, *p):
        return os.path.join(self.dir, *p)

    def args(self, ops, seconds, min_passes, seed, trace, cores, warm=0):
        return ["--fixture", self.path("fixture"), "--ops", ",".join(ops),
                "--seconds", str(seconds), "--min-passes", str(min_passes),
                "--warm", str(warm), "--seed", str(seed), "--trace", str(trace),
                "--cores", str(cores), "--dump", self.path("dump"),
                "--out", self.path("records.jsonl")]

    def jvm(self, jars, args, deadline, dump_cds=False):
        env = dict(os.environ, SPARK_GRAFT_CKPT_DIR=self.path("ckpt"),
                   SPARK_LOCAL_DIRS=self.path("tmp"))
        cds = (f"-XX:ArchiveClassesAtExit={CDS}" if dump_cds
               else f"-XX:SharedArchiveFile={CDS}")
        cp = os.pathsep.join([JAR] + sorted(glob.glob(os.path.join(jars, "*.jar"))))
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", cds, "-Xlog:cds=off", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={self.path('tmp')}"] + JIT
               + [a for o in ADD_OPENS for a in ("--add-opens", o)]
               + ["-cp", cp, "graftbench.Main"] + args)
        with open(self.path("jvm.log"), "w") as log:
            self.proc = subprocess.Popen(cmd, stdout=log, stderr=log, env=env, cwd=self.dir)
            try:
                code = self.proc.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
                code = None
        if code != 0:
            with open(self.path("jvm.log")) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"harness JVM {'timed out' if code is None else f'exited {code}'}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found under {PROGRAM_SRC}; run from a checkout root")
    w = WORKLOADS[a.workload]
    cores = len(os.sched_getaffinity(0))
    jars = spark_jars()
    clock = [("start", time.time())]
    stamp = build(jars, cores)
    clock.append(("build", time.time()))
    deadline = time.time() + RUN_LIMIT_S
    with Run(a.workload, a.seed) as run:
        fixture.write(run.path("fixture"), FIXTURE_SEED, SF)
        clock.append(("fixture", time.time()))
        # A traced run needs a traced and an untraced pass (T U U T ...).
        run.jvm(jars, run.args(w["ops"], a.seconds, 2 if a.trace else 1, a.seed, a.trace,
                               cores, w["warm"]),
                deadline)
        clock.append(("jvm", time.time()))
        with open(run.path("records.jsonl")) as f:
            recs = [json.loads(line) for line in f]
        scratch = [tree_size(run.path(d)) for d in ("tmp", "ckpt")]
        checks = oracle.check(run.path("fixture"), run.path("dump"),
                              {r["name"]: r["sql"] for r in recs if r["k"] == "oracle"},
                              w["ops"])
        clock.append(("oracle", time.time()))
    clock.append(("cleanup", time.time()))

    timed = [r for r in recs if r["k"] == "op" and r["pass"] >= 0]
    bad = {n for n, (ok, _) in checks.items() if not ok}
    failed = sum(1 for r in timed if not r["ok"] or r["name"] in bad)
    setup = next(r for r in recs if r["k"] == "setup")
    calib = next(r for r in recs if r["k"] == "calib")
    worst = {k: max(calib[f"{k}_pre_s"], calib[f"{k}_post_s"]) / CALIB_REF_S[k]
             for k in CALIB_REF_S}
    flagged = any(v > CALIB_FLAG_RATIO for v in worst.values())
    if flagged:
        print(f"[perfbench] co-tenancy: calibration markers at {worst} of reference",
              file=sys.stderr)
    for r in recs:
        if r["k"] == "op" and not r["ok"]:
            print(f"[perfbench] {r['name']} pass {r['pass']} failed: {r['error']}",
                  file=sys.stderr)
    for n, (ok, msg) in sorted(checks.items()):
        if not ok:
            print(f"[perfbench] oracle mismatch {n}: {msg}", file=sys.stderr)
    diag = {
        "workload": a.workload, "seed": a.seed, "sf": SF, "nproc": cores, "heap": HEAP,
        "spark": setup["spark"], "commit": commit_id(), "source_sha256": stamp,
        "pass_s": [r["s"] for r in recs if r["k"] == "pass"],
        "oracle": {n: ("ok" if ok else msg) for n, (ok, msg) in sorted(checks.items())},
        "wall_s": {k: t - t0 for (_, t0), (k, t) in zip(clock, clock[1:])},
        "calibration": {k: v for k, v in calib.items() if k != "k"},
        "calibration_vs_reference": worst, "co_tenancy_flag": flagged,
        "op_median_s": {n: statistics.median(r["total_s"] for r in timed if r["name"] == n)
                        for n in w["ops"]},
    }
    if a.trace:
        spans = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.spans.jsonl")
        metrics, silent = layers.per_layer(recs, cores, scratch, spans)
        if w.get("streaming"):
            # Every stream op must show its micro-batches to the listeners;
            # a silent op means a query ran where the listeners cannot see.
            for o in silent:
                print(f"[perfbench] {o['name']} pass {o['pass']}: no trigger recorded",
                      file=sys.stderr)
            failed += sum(1 for o in silent if o["ok"] and o["name"] not in bad)
        metrics["error_rate"] = (failed / len(timed), "ratio")
        diag["spans"] = os.path.relpath(spans, ROOT)
    else:
        metrics = end_to_end(recs)
    diag["error_rate"] = failed / len(timed)
    print(json.dumps({"perfbench": diag}))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(timed), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
