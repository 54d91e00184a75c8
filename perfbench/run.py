#!/usr/bin/env python3
"""Benchmark of the managed-dataset library: one command, four workloads.

    python3 perfbench/run.py --workload <lookup|ingest|mixed|gates> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and
the harness from source with sbt (offline) into perfbench/target; later
runs reuse the build while the sources are unchanged. Inputs are
derived from the TPC-H-like test tables under $PERFBENCH_DATA (default
~/testdata: sf0.1 for the dataset workloads, sf0.01 for the gates). Spark runs as local[nproc] with one client thread.

The report goes to stdout; its last line is one JSON object with
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics
untraced, the per-layer metrics with --trace 1).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("lookup", "ingest", "mixed", "gates")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files():
    files = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def build():
    """Compile the library and the harness unless the build is current."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources not found under %s/src; run from a checkout" % ROOT)
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == h.hexdigest():
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=%s" % os.path.expanduser("~/.sbt/repositories"))
    os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
    log = os.path.join(HERE, "target", "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if rc != 0:
        fail("build failed (exit %d), see %s" % (rc, log))
    with open(stamp_file, "w") as fh:
        fh.write(h.hexdigest())
    print("built in %.1f s" % (time.time() - t0))


def run_jvm(args, work):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark installation")
    data_root = os.environ.get("PERFBENCH_DATA", os.path.expanduser("~/testdata"))
    scale = os.path.join(data_root, args.scale)
    for d in (scale, os.path.join(data_root, "sf0.01")):
        if not os.path.isfile(os.path.join(d, "lineitem.parquet")):
            fail("test tables not found in %s" % d)
    inputs, gen_s = [], 0.0
    if args.workload in ("ingest", "mixed"):
        t0 = time.time()
        inputs = gen.generate(os.path.join(scale, "lineitem.parquet"),
                              os.path.join(work, "inputs"), args.seed)
        gen_s = time.time() - t0
    out = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.path.join(HERE, "target", "scala-2.13", "classes") + os.pathsep + \
        os.path.join(spark_home, "jars", "*")
    # C1 only: a run is over long before C2 has compiled Spark's planning
    # and scheduling paths, so with it the window would time the JIT's
    # progress, which varies from run to run, more than the library
    cmd = ["java", "-Xms4g", "-Xmx6g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
           "-Djava.io.tmpdir=" + tmp,
           "-Dspark.local.dir=" + tmp, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", scale, "--check", os.path.join(data_root, "sf0.01"),
            "--gates", os.path.join(HERE, "gates.tsv"),
            "--work", work, "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("run exceeded %d s" % JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail("benchmark JVM failed (exit %d)" % rc)
    with open(out) as fh:
        raw = json.load(fh)
    raw["inputs"] = inputs + raw["inputs"]
    raw["gen_s"] += gen_s
    return raw


def report(raw, e2e, notes, layer, table):
    p = print
    p("workload %s  seed %s  cores %s  traced %s" % (raw["workload"], raw["seed"], raw["cores"],
                                                    raw["traced"]))
    p("inputs:")
    for i in raw["inputs"]:
        p("  %-10s rows=%-8s bytes=%-10s files=%-4s digest=%s" % (
            i["name"], i["rows"], i["bytes"], i["files"], i["digest"]))
    p("setup: spark %.2f s, builds %s s, warm-up %.2f s; input generation %.2f s, "
      "references %.2f s, checks %.2f s" % (
          raw["spark_start_s"], ", ".join("%.2f" % b for b in raw["build_s"]), raw["warm_s"],
          raw["gen_s"], raw["ref_s"], raw["check_s"]))
    for c in raw["checks"]:
        p("check %-28s %s %s" % (c["name"], "ok" if c["ok"] else "FAILED", c["detail"][:70]))
    bad = [o for o in raw["ops"] if not o["ok"]]
    for o in bad[:5]:
        p("failed op %s %s: %s" % (o["id"], o["kind"], o.get("error") or "check failed"))
    for when in ("before", "after"):
        h = raw["host"][when]
        p("host %-6s load=%s psi_some_us=%s mem_avail_mb=%s steal_ticks=%s" % (
            when, h["load"], h["psi_some_us"], h["mem_avail_mb"], h["steal_ticks"]))
    # clock ticks are 1/100 s on Linux
    steal_s = (raw["host"]["after"]["steal_ticks"] - raw["host"]["before"]["steal_ticks"]) / 100.0
    p("host steal during the run: %.1f CPU-s" % steal_s)
    p("end-to-end (untraced window):")
    for k, (v, u) in e2e.items():
        p("  %-18s %14.4f %-6s %s" % (k, v, u, notes.get(k, "")))
    if layer is not None:
        p("per-layer (traced window), by call:")
        p("  %-26s %-9s %5s %10s %10s %7s %12s" % ("span", "layer", "n", "ms/call", "self/call",
                                                  "jobs", "input_bytes"))
        for name, r in sorted(table["spans"].items()):
            n = max(r["n"], 1)
            p("  %-26s %-9s %5d %10.2f %10.2f %7.2f %12.0f" % (
                name, r["layer"], r["n"], r["ms"] / n, r["self_ms"] / n, r["jobs"] / n,
                r["input_bytes"] / n))
        p("per-layer (traced window), by op kind:")
        p("  %-26s %5s %9s %6s %7s %9s %11s %9s %9s %6s" % (
            "op", "n", "ms/op", "jobs", "tasks", "cpu_ms", "shuffle_B", "gap_ms", "plan_ms",
            "gc_ms"))
        for kind, r in sorted(table["kinds"].items()):
            n = max(r["n"], 1)
            p("  %-26s %5d %9.2f %6.2f %7.1f %9.1f %11.0f %9.2f %9.2f %6.1f" % (
                kind, r["n"], r["ms"] / n, r["jobs"] / n, r["tasks"] / n, r["task_cpu_ms"] / n,
                r["shuffle_bytes"] / n, r["driver_gap_ms"] / n, r["planning_ms"] / n,
                r["gc_ms"] / n))
        for name, lanes in sorted(table["stream"].items()):
            p("  StreamTelemetry %s: %s" % (name, " ".join(
                "%s=%s" % (k, v) for k, v in lanes.items())))
        for k, (v, u) in layer.items():
            p("  %-28s %14.4f %s" % (k, v, u))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="sf0.1", help="table directory of the dataset workloads")
    args = ap.parse_args(argv)

    build()
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_jvm(args, work)
    finally:
        for d in glob.glob(os.path.join(work, "*")):
            if not d.endswith(".log") and not d.endswith(".json"):
                shutil.rmtree(d, ignore_errors=True)
    e2e, notes = metrics.end_to_end(raw)
    layer, table = metrics.per_layer(raw) if args.trace else (None, None)
    report(raw, e2e, notes, layer, table)
    attempted, failed = metrics.counts(raw)
    chosen = layer if args.trace else {k: e2e[k] for k, _ in metrics.END_TO_END}
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))


if __name__ == "__main__":
    main()
