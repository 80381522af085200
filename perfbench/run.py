#!/usr/bin/env python3
"""Runs one benchmark workload against the engine and prints one JSON line.

    python3 perfbench/run.py --workload nab_fleet --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) into `perfbench/.work/build`; later
runs reuse that build while no source file changed. Generated inputs,
results trees and the cached oracle results live under `perfbench/.work`.
See perfbench/README.md for the workloads, metrics and checks.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(WORK, "build")
HARNESS = os.path.join(HERE, "harness")

sys.path.insert(0, HERE)
import checks  # noqa: E402
import inputs  # noqa: E402

# iterative's members: (query of SparkEntry.queries, layer it is reported as)
QUERIES = (("q_pagerank_pers", "graph.pagerank_pers"),
           ("q_communities", "graph.communities"), ("q_triangles", "graph.triangles"),
           ("q_bm25", "llm.bm25"), ("q_rm3", "llm.rm3"))
WORKLOADS = ("nab_fleet", "iterative")
# typical warm pass on 4 cores; --seconds buys floor(seconds / this) timed
# passes (at least one), so every run of a workload makes the same passes
PASS_S = {"nab_fleet": 12, "iterative": 10}
# the JVM of one run is stopped this long after the run began, so that the
# run ends within its 180 s with a clear message instead of a result
DEADLINE_S = 170

# per-layer metrics of the traced run: layer -> measures (names are
# "<layer>.<measure>")
LAYERS = {
    "io.read": ("s", "jobs", "gap_s"),
    "core.prepare": ("s", "jobs", "shuffle_mb"),
    **{f"models.{m}": ("s", "jobs", "task_cpu_s") for m in ("stl", "kalman")},
    "pipelines.detect": ("s", "jobs", "tasks", "gap_s", "shuffle_mb", "spill_mb"),
    "io.write": ("s", "jobs", "mb"),
    "metrics.leaderboard": ("s", "jobs"),
    **{layer: ("build_s", "s", "jobs", "tasks", "gap_s", "shuffle_mb")
       for _, layer in QUERIES if layer.startswith("graph.")},
    **{layer: ("s", "jobs", "task_cpu_s", "gc_s", "spill_mb", "shuffle_mb")
       for _, layer in QUERIES if layer.startswith("llm.")},
    "engine": ("jobs", "stages", "tasks", "gap_s", "gc_s", "task_cpu_s"),
}
UNITS = {"s": "s", "build_s": "s", "gap_s": "s", "task_cpu_s": "s", "gc_s": "s",
         "jobs": "count", "stages": "count", "tasks": "count",
         "shuffle_mb": "MB", "spill_mb": "MB", "mb": "MB"}

# Spark 4 on JDK 17 outside spark-submit (the engine's build.sbt uses the same)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
HEAP = "3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha1()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")):
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    st = os.stat(p)
                    h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")):
        st = os.stat(p)
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles engine + harness once per source state; returns the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no engine sources next to perfbench/ (run from a checkout root)")
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export harness/Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    lines = open(log).read().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def stage_corpus(cp):
    """The fixed documents table and the DuckDB results of the oracle
    statements of `iterative`'s members on it, made once per checkout and
    member list (deleting `perfbench/.work/corpus` makes them anew)."""
    d = os.path.join(WORK, "corpus")
    done = os.path.join(d, "done")
    names = [q for q, _ in QUERIES]
    if not (os.path.isfile(done) and open(done).read() == " ".join(names)):
        shutil.rmtree(d, ignore_errors=True)
        inputs.corpus(d)
        sql_file = os.path.join(d, "oracle_sql.json")
        subprocess.run(["java", "-cp", cp, "perfbench.DumpOracle", sql_file] + names,
                       check=True, stdin=subprocess.DEVNULL, timeout=120)
        with open(sql_file) as f:
            sql = json.load(f)
        missing = set(names) - set(sql)
        if missing:
            fail(f"no oracle SQL for {sorted(missing)}")
        tmp = os.path.join(d, "tmp")
        os.makedirs(tmp)
        checks.oracle_results(d, sql, os.path.join(d, "oracle"), tmp)
        shutil.rmtree(tmp)
        with open(done, "w") as f:
            f.write(" ".join(names))
    return d


def run_jvm(cp, args, out_dir, start):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={out_dir}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args + [out_dir, str(int(start * 1000))])
    os.makedirs(os.path.join(out_dir, "tmp"))
    log = os.path.join(out_dir, "jvm.log")
    limit = DEADLINE_S - (time.time() - start)
    with open(log, "w") as out:
        try:
            r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=limit)
        except subprocess.TimeoutExpired:
            fail(f"timed out: the engine run had not ended {DEADLINE_S} s after "
                 f"the run began (stopped, no result)")
    if r.returncode != 0:
        sys.stderr.write("\n".join(open(log).read().splitlines()[-40:]) + "\n")
        fail(f"engine run failed with exit code {r.returncode}")
    with open(os.path.join(out_dir, "result.json")) as f:
        return json.load(f)


def unstolen(wall, busy, steal):
    """A pass's wall time less the share the host withheld: steal accrues
    only while a CPU has work, so steal / (busy + steal) is the share of the
    machine's runnable time it took, and a pass of runnable work stretches
    by that share. The wall time where /proc/stat was not readable."""
    if busy is None or steal is None or busy + steal <= 0:
        return wall
    return wall * busy / (busy + steal)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory (inputs, outputs, JVM log)")
    a = ap.parse_args()

    cp = build()
    corpus_dir = stage_corpus(cp)
    # set-up is timed from here: the build and the fixed corpus are made
    # once per checkout, not once per run
    start = time.time()
    run_dir = tempfile.mkdtemp(prefix=f"run-{a.workload}-", dir=WORK)
    out_dir = os.path.join(run_dir, "out")
    os.makedirs(out_dir)
    try:
        if a.workload == "nab_fleet":
            fleet_dir = os.path.join(run_dir, "fleet")
            truth = inputs.fleet(fleet_dir, a.seed)
            args = ["nab_fleet", fleet_dir]
        else:
            args = [a.workload, corpus_dir,
                    ",".join(f"{q}={layer}" for q, layer in QUERIES)]
        passes = max(1, int(a.seconds // PASS_S[a.workload]))
        res = run_jvm(cp, args + [str(passes), str(a.trace), str(a.cpus)],
                      out_dir, start)
        checked = os.path.join(out_dir, "checked")
        if a.workload == "nab_fleet":
            timed = sorted(glob.glob(os.path.join(out_dir, "timed", "results-*")),
                           key=lambda p: int(p.rsplit("-", 1)[1]))
            problems = checks.fleet(os.path.join(checked, "results-1"), truth,
                                    timed[-1] if timed else None)
        else:
            problems = checks.queries([q for q, _ in QUERIES],
                                      os.path.join(corpus_dir, "oracle"), checked)
        for p in problems:
            print(f"CHECK FAILED: {p}", file=sys.stderr)
        print(f"passes {res['passes']}: wall {res['pass_s']}, busy {res['busy_s']}, "
              f"steal {res['steal_s']}, session {res['session_s']}", file=sys.stderr)
        if a.trace:
            metrics = {f"{layer}.{m}": {"value": res["layers"].get(f"{layer}.{m}", 0.0),
                                        "unit": UNITS[m]}
                       for layer, ms in LAYERS.items() for m in ms}
        else:
            metrics = {
                "setup_s": {"value": res["setup_s"], "unit": "s"},
                "pass_s": {"value": statistics.median(
                    unstolen(wall, busy, st)
                    for wall, busy, st in zip(res["pass_s"], res["busy_s"], res["steal_s"])),
                    "unit": "s"},
                "cpu_s": {"value": statistics.median(res["cpu_s"]), "unit": "s"},
                "heap_peak_mb": {"value": res["heap_peak_mb"], "unit": "MB"},
            }
        print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
