#!/usr/bin/env python3
"""graft benchmark: run one workload from one seed and print one JSON line.

    python3 perfbench/run.py --workload kcv --seed 1 --seconds 2 --trace 0

Steps, from the root of a graft checkout:
  1. build graft and the JVM side of the benchmark from source with sbt
     (once per source state; the classpath is cached under .perfbench/),
  2. delete the previous run's files, then generate the seeded inputs and
     the expected answers (gen.py), before any clock starts,
  3. run one JVM (perfbench.Main): set-up, then whole passes for --seconds,
  4. check every call's answer and print the metrics as the last line.

--trace 0 prints the end-to-end metrics; --trace 1 the per-layer ones.
The execution environment (master, heap, shuffle partitions, AQE) is
pinned by the options below and recorded in BENCHMARK.json's command.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
BUILD_TIMEOUT_S = 850
RUN_BUDGET_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    and wait for it, so nothing started here outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout}s: {cmd[0]}")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    for top in tops:
        walk = ([(os.path.dirname(top), [], [os.path.basename(top)])] if os.path.isfile(top)
                else sorted(os.walk(top)))
        for d, _, files in walk:
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build from source when the sources changed; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources at {ROOT}: run from the root of a graft checkout")
    os.makedirs(STATE, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(STATE, "classpath.txt")
    stamp_file = os.path.join(STATE, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Dsbt.offline=true"
                       f" -Djava.io.tmpdir={tmp} -Dsbt.server.autostart=false").strip()
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                       cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    lines = open(log).read().splitlines()
    cp = [l for l in lines if "scala-library" in l and not l.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(recs):
    setup = next(r for r in recs if r["kind"] == "setup")
    passes = [r["s"] for r in recs if r["kind"] == "pass" and not r["warm"]]
    end = next(r for r in recs if r["kind"] == "end")
    return {"setup_s": (setup["setup_s"], "s"), "pass_s": (med(passes), "s"),
            "heap_after_gc_mb": (end["live_heap_bytes"] / 2 ** 20, "MB")}


# calls whose median span time is reported as the per-layer "<call>_ms"
SPAN_OPS = ("kv.slice", "kv.multislice", "kv.keyslices", "kv.merge_read", "kv.append",
            "kv.compact", "graph.adjacency_load", "graph.traversal", "graph.pagerank",
            "graph.cc", "graph.labelprop", "graph.scc", "pipeline.exact_dup",
            "pipeline.minhash_lsh", "pipeline.containment", "pipeline.dup_groups",
            "operators.theta", "operators.freqitems")
# getSlice/getKeys requests served by the graft-kv connector
CONNECTOR_READS = ("kv.slice", "kv.multislice", "kv.keyslices")


def per_layer(workload, recs, expected, attempted, failed):
    """Per-layer metrics of a traced run. Span metrics (self time of each
    call, engine counters) come from the traced passes; latency
    percentiles and the tracing overhead use the untraced passes too."""
    setup = next(r for r in recs if r["kind"] == "setup")
    warmup = setup["warmup"]
    ops = [r for r in recs if r["kind"] == "op" and r["pass"] >= warmup]
    traced = [r for r in ops if r["traced"]]
    passes = [r for r in recs if r["kind"] == "pass" and not r["warm"]]
    tpass = {r["pass"]: r["s"] for r in passes if r["traced"]}
    upass = [r["s"] for r in passes if not r["traced"]]
    m = {}
    for op in SPAN_OPS:
        m[op + "_ms"] = (med([r["ms"] for r in traced if r["op"] == op]), "ms")
    plain = [r for r in ops if not r["traced"] and not r.get("err")]
    reads = [r["ms"] for r in plain if r["op"] == "kv.slice"]
    m["kv.read_p50_ms"] = (med(reads), "ms")
    m["kv.read_p90_ms"] = (
        statistics.quantiles(reads, n=10, method="inclusive")[8] if len(reads) > 1
        else med(reads), "ms")
    m["kv.write_p50_ms"] = (med([r["ms"] for r in plain if r["op"] == "kv.append"]), "ms")
    depth = [r["value"] for r in recs if r["kind"] == "sample" and r["name"] == "kv.log_depth"
             and r["pass"] >= warmup]
    m["kv.log_depth"] = (statistics.fmean(depth) if depth else 0.0, "batches")
    amp, wamp = [], []
    if workload == "kcv":
        live = expected["live_cells"]
        amp = [r["value"] / (32.0 * live["%d,%d" % (r["pass"], r["i"])])
               for r in recs if r["kind"] == "sample" and r["name"] == "kv.store_bytes"
               and r["pass"] >= warmup and "%d,%d" % (r["pass"], r["i"]) in live]
        for p in tpass:
            written = sum(r["bytes_written"] for r in traced if r["pass"] == p
                          and r["op"] in ("kv.append", "kv.compact"))
            nb = sum(1 for r in traced if r["pass"] == p and r["op"] == "kv.append")
            if nb:
                wamp.append(written / (nb * expected["batch_user_bytes"]))
    m["kv.store_amp"] = (statistics.fmean(amp) if amp else 0.0, "ratio")
    m["kv.write_amp"] = (med(wamp), "ratio")
    m["kvconnector.segment_write_s"] = (sum(
        r["ms"] for r in recs if r["kind"] == "op" and r["op"] == "kvconnector.segment_write")
        / 1e3, "s")
    rd = [r for r in traced if r["op"] in CONNECTOR_READS]
    rows = sum(r.get("rows", 0) for r in rd)
    m["kvconnector.rows_read_per_row"] = (
        sum(r["records_read"] for r in rd) / rows if rows else 0.0, "ratio")
    m["kvconnector.scan_tasks_per_read"] = (
        sum(r["scan_tasks"] for r in rd) / len(rd) if rd else 0.0, "count")
    lsh = [json.loads(r["detail"]) for r in ops
           if r["op"] == "pipeline.minhash_lsh" and not r.get("err")]
    m["pipeline.near_dup_recall"] = (
        med([d["planted_found"] / d["planted"] for d in lsh]), "ratio")

    def per_pass(key, scale=1.0):
        return med([sum(r[key] for r in traced if r["pass"] == p) * scale for p in tpass])
    m["spark.jobs"] = (per_pass("jobs"), "count")
    m["spark.stages"] = (per_pass("stages"), "count")
    m["spark.tasks"] = (per_pass("tasks"), "count")
    m["spark.task_s"] = (per_pass("task_ms", 1e-3), "s")
    m["spark.busy_cores"] = (med([sum(r["task_ms"] for r in traced if r["pass"] == p)
                                  / (1e3 * s) for p, s in tpass.items()]), "cores")
    m["spark.plan_ms"] = (per_pass("plan_ms"), "ms")
    m["spark.shuffle_mb"] = (per_pass("shuffle_bytes", 2 ** -20), "MB")
    m["spark.spill_mb"] = (per_pass("spill_bytes", 2 ** -20), "MB")
    m["jvm.gc_ms"] = (per_pass("gc_ms"), "ms")
    m["jvm.peak_rss_mb"] = (next(r for r in recs if r["kind"] == "end")["hwm_kb"] / 1024.0, "MB")
    m["trace.overhead_ratio"] = (
        med(list(tpass.values())) / med(upass) if tpass and upass else 0.0, "ratio")
    m["fail_ratio"] = (failed / attempted, "ratio")
    # the parts of setup_s: session start, store builds, warm-up pass
    for part in ("session", "build", "warmup"):
        m[f"setup.{part}_s"] = (setup[f"{part}_s"], "s")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("analytics", "kcv"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", default="local[3]")
    ap.add_argument("--heap", default="2g")
    ap.add_argument("--shuffle-partitions", default="3")
    ap.add_argument("--aqe", default="true")
    a = ap.parse_args()
    started = time.monotonic()

    cp = classpath()
    built = time.monotonic()
    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True
    import gen

    work = os.path.join(STATE, "work")
    shutil.rmtree(work, ignore_errors=True)
    dirs = {d: os.path.join(work, d) for d in ("input", "store", "local", "tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    expected = gen.generate(a.workload, a.seed, dirs["input"])
    generated = time.monotonic()

    out = os.path.join(work, "records.jsonl")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = ([java, f"-Xms{a.heap}", f"-Xmx{a.heap}",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={dirs['tmp']}"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--master", a.master, "--shuffle-partitions", a.shuffle_partitions,
              "--aqe", a.aqe, "--local-dir", dirs["local"], "--warehouse", dirs["warehouse"],
              "--input", dirs["input"], "--store", dirs["store"], "--out", out])
    log = os.path.join(work, "jvm.log")
    # Spark prefers these over spark.local.dir; the run keeps its files
    # inside the work dir
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    budget = RUN_BUDGET_S - (time.monotonic() - built)
    with open(log, "w") as lf:
        # the clock of setup_s starts here, after the inputs exist
        rc = run_group(cmd + ["--t0-ms", str(time.time() * 1000.0)], budget,
                       cwd=ROOT, env=env, stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"JVM exited with {rc}")
    ran = time.monotonic()
    recs = [json.loads(l) for l in open(out) if l.strip()]
    shutil.copy(out, os.path.join(STATE, f"last-{a.workload}-trace{a.trace}.jsonl"))

    attempted, failed, wrong = gen.check(dirs["input"], recs)
    metrics = per_layer(a.workload, recs, expected, attempted, failed) if a.trace \
        else end_to_end(recs)
    print(f"[perfbench] {a.workload} seed={a.seed}: {attempted} calls, {failed} failed "
          f"({wrong} wrong answers); build {built - started:.1f}s, "
          f"generate {generated - built:.1f}s, "
          f"JVM {ran - generated:.1f}s, check {time.monotonic() - ran:.1f}s", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
