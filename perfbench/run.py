#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload in a fresh JVM.

    python3 perfbench/run.py --workload lake_move --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run builds the program
and the harness from source with sbt (perfbench/harness); later runs
reuse the build while the sources are unchanged. Each run generates its
inputs from the seed, starts one JVM on the harness, checks the
program's outputs after the timed part, and prints one JSON object as
the last line of standard output: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. Everything it
writes stays under $CARGO_TARGET_DIR (default .bench_build) in the
checkout. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

# query_tail's queries, one of each iterative family, in the order a
# pass runs them (README.md says why these).
QUERIES = ["t_quality_auc_bigram", "s_ann_ivfpq", "d_cluster_incremental",
           "g_pagerank", "f_priority_budget", "a_pipeline_curate_dedup"]
# Each run must end within this many seconds, build excluded.
RUN_LIMIT_S = 170
# A fixed heap and young generation: adaptive sizing otherwise makes the
# peak resident set and the collections differ from run to run. Two JIT
# compiler threads and two GC threads: with the defaults (three compiler
# threads, four GC threads) beside the four task threads, a busy host
# moved the cold CPU time by 7 % in probes, by 1 % with these. The
# compiler threads are a fixed set, so none ends and takes its CPU
# count with it (the harness leaves their CPU time out).
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-UseAdaptiveSizePolicy",
            "-XX:CICompilerCount=2", "-XX:-UseDynamicNumberOfCompilerThreads",
            "-XX:ParallelGCThreads=2"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources_stamp(root):
    """Digest of everything the build reads, so an edit rebuilds."""
    h = hashlib.sha1()
    tops = ["build.sbt", "project", "src/main", "perfbench/harness"]
    for top in tops:
        base = os.path.join(root, top)
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, n) for d, dirs, names in os.walk(base)
            for n in names if "/target" not in d and "/project/project" not in d)
        for p in files:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, out):
    """Compile program and harness once per source state; returns the
    JVM command prefix (java, options, classpath)."""
    launch = os.path.join(out, "launch.txt")
    stamp_file = os.path.join(out, "launch.stamp")
    stamp = sources_stamp(root)
    fresh = os.path.exists(launch) and os.path.exists(stamp_file) and \
        open(stamp_file).read() == stamp
    if not fresh:
        env = dict(os.environ, COURSIER_MODE="offline")
        env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g"
        t = time.time()
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dperfbench.launch=" + launch, "writeLaunch"],
            cwd=os.path.join(root, "perfbench", "harness"), env=env,
            stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL,
            timeout=850)
        if r.returncode != 0 or not os.path.exists(launch):
            fail("build failed")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        print("perfbench: built in %.0f s" % (time.time() - t), file=sys.stderr)
    lines = open(launch).read().splitlines()
    opts = [o for o in lines[1:] if o and not o.startswith("-Xmx")]
    return ["java"] + opts + JVM_OPTS + ["-Duser.timezone=UTC", "-cp", lines[0]]


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def generate(workload, seed, work):
    """Inputs and the expected outcome; returns (harness args, expected)."""
    if workload == "lake_move":
        exp = gen.lake_move(os.path.join(work, "lake"), seed)
        a = exp["args"]
        return ["--root", os.path.join(work, "lake"), "--source", a["source"],
                "--target", a["target"], "--after-ms", str(a["after_ms"]),
                "--before-ms", str(a["before_ms"]), "--company", a["company"]], exp
    if workload == "manifest_copy":
        manifest = os.path.join(work, "manifest", "archived_quotes.csv")
        exp = gen.manifest_copy(os.path.join(work, "lake"), manifest, seed)
        a = exp["args"]
        return ["--root", os.path.join(work, "lake"), "--manifest", manifest,
                "--source", a["source"], "--target", a["target"]], exp
    # query_tail reads fixed tables: the oracle comparison must hold on
    # every run, so the seed does not reach them
    gen.tables(os.path.join(work, "tables"))
    return ["--tables", os.path.join(work, "tables"),
            "--results", os.path.join(work, "results"),
            "--queries", ",".join(QUERIES)], None


def result_line(attempted, failed, metrics):
    """The last line a run prints. Every failed operation is an output
    the checks found wrong, so a run with one is not correct."""
    return json.dumps({"correct": failed == 0, "attempted": attempted,
                       "failed": failed, "metrics": metrics})


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        fail("unknown workload " + args.workload)
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the root of a checkout of the program (no build.sbt "
             "or src/main/scala here)")
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    java = build(root, out)

    started = time.time()
    work = os.path.join(out, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    t = time.time()
    wl_args, expected = generate(args.workload, args.seed, work)
    gen_s = time.time() - t

    result_file = os.path.join(work, "result.json")
    spans = os.path.join(out, "spans-%s-%d.jsonl" % (args.workload, args.seed))
    log = os.path.join(out, "jvm.log")
    cmd = java + ["-Djava.io.tmpdir=" + tmp, "perfbench.Harness",
                  "--workload", args.workload, "--seconds", str(args.seconds),
                  "--trace", str(args.trace), "--out", result_file,
                  "--spans", spans] + wl_args
    t_jvm = time.time()
    ticks0 = cpu_ticks()
    with open(log, "w") as lf:
        # few malloc arenas: glibc's per-thread arenas otherwise make the
        # resident set differ from run to run
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=lf,
                                stdin=subprocess.DEVNULL,
                                env=dict(os.environ, MALLOC_ARENA_MAX="2"))
        try:
            rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("the run did not finish in time; see " + log)
    if rc != 0 or not os.path.exists(result_file):
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        fail("the harness failed (exit %d); see %s" % (rc, log))
    with open(result_file) as f:
        result = json.load(f)
    jvm_s = time.time() - t_jvm
    ticks1 = cpu_ticks()
    # the share of CPU time the host took from this machine while the JVM
    # ran: the benchmark cannot remove that noise, only show it
    steal_pct = 100.0 * (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    t_check = time.time()

    if expected is None:
        attempted, failed = check.queries(
            result, QUERIES, os.path.join(work, "tables"),
            os.path.join(work, "results"), root)
    else:
        attempted, failed = check.lake(expected, result,
                                       os.path.join(work, "lake"))

    print("perfbench: inputs %.1f s, jvm %.1f s, checks %.1f s, steal %.2f %%" % (
        gen_s, jvm_s, time.time() - t_check, steal_pct), file=sys.stderr)
    if args.trace:
        measured = dict(result["per_layer"])
        measured["setup.gen_s"] = [gen_s, "s"]
        measured["host.steal_pct"] = [steal_pct, "%"]
        measured["wall.cold_s"] = [result["cold_s"], "s"]
        measured["wall.warm_s"] = [statistics.median(result["warm_s"]), "s"]
        measured["jit.cold_s"] = [result["cold_jit_s"], "s"]
        measured["jit.warm_s"] = [statistics.median(result["warm_jit_s"]), "s"]
        metrics = {}
        for m in bench["per_layer"]:
            # a layer that does no work on this workload reads 0
            value, unit = measured.get(m["name"], [0.0, m["unit"]])
            metrics[m["name"]] = {"value": value, "unit": unit}
        print("perfbench: spans in " + spans, file=sys.stderr)
    else:
        values = {
            "setup_s": gen_s + result["setup_jvm_s"],
            "cold_cpu_s": result["cold_cpu_s"],
            "warm_cpu_s": statistics.median(result["warm_cpu_s"]),
            "peak_rss_mb": result["peak_rss_mb"],
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print(result_line(attempted, failed, metrics))


if __name__ == "__main__":
    main()
