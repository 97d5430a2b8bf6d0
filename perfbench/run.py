#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark with sbt (offline); later runs reuse the build while no source
changed. The JVM runs the workload and writes a result file; this script
checks the outputs, derives the metrics, prints a readable report and, as
the last line, one JSON object: {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer ones. See perfbench/README.md.
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
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")

WORKLOADS = ("curate_corpus", "ingest_drift", "mixed_dml", "serve_evolved")

END_TO_END = {
    "setup_s": "s", "ops_per_s": "ops/s", "op_latency_s": "s",
    "cpu_s_per_op": "s", "heap_live_mb": "MB",
}

# Spark on JDK 17 outside spark-submit needs these (the launcher's
# JavaModuleOptions list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

LIMIT_S = 175.0
BUILD_LIMIT_S = 840.0


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every build input: engine and benchmark sources."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos) and "sbt.repository.config" not in opts:
        opts += " -Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts += " -Djava.io.tmpdir=%s -XX:-UsePerfData" % tmp
    env["SBT_OPTS"] = opts.strip()
    return env


def run_bounded(cmd, cwd, env, limit, log):
    """Run cmd in its own process group; kill the group past `limit`."""
    with open(log, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, limit))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def build():
    """Compile engine and benchmark; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("engine sources not found (%s); run from a checkout root" % need)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "sbt.log")
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                      "-Dsbt.server.autostart=false", "compile",
                      "export perfbench/Runtime/fullClasspath"],
                     HERE, sbt_env(), BUILD_LIMIT_S, log)
    with open(log, errors="replace") as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if l.startswith("/") and ".jar" in l]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed (rc=%s)" % rc)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1], True


def launch(cp, a, deadline):
    """Run the workload JVM; return its parsed result file."""
    run_dir = os.path.join(WORK, "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    out = os.path.join(OUT, "%s-seed%d-trace%d.json" % (a.workload, a.seed, a.trace))
    if os.path.exists(out):
        os.remove(out)
    tmp = os.path.join(run_dir, "tmp")
    # C1 alone gets a 48 MB code cache by default; Spark fills that within
    # a minute, and the JVM then stops compiling and runs interpreted
    cmd = (["java", "-Xms1g", "-Xmx1g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + tmp, "-Dspark.hadoop.hadoop.tmp.dir=" + tmp,
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "spark-warehouse"),
              "-Dderby.system.home=" + run_dir,
              "-cp", cp, "perfbench.Main", a.workload, str(a.seed),
              str(a.seconds), str(a.trace), out])
    log = os.path.join(OUT, "%s-seed%d-trace%d.log" % (a.workload, a.seed, a.trace))
    rc = run_bounded(cmd, run_dir, dict(os.environ), deadline - time.time(), log)
    if rc != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        shutil.rmtree(run_dir, ignore_errors=True)
        fail("workload run failed (rc=%s)" % rc)
    with open(out) as f:
        return json.load(f), run_dir


def summarize(run, extra_checks):
    """Checks, counts and both metric sets of one result file."""
    ops = run["ops"]
    attempted = len(ops)
    bad_checks = {c["name"] for c in run["checks"] + extra_checks if not c["ok"]}
    # a per-query check ("<name>#<i>") fails every op of that query
    bad_queries = {n.split("#")[0] for n in bad_checks if "#" in n}
    table_level = [n for n in bad_checks if "#" not in n]
    failed = 0
    for o in ops:
        if not o["ok"] or o.get("check") is False or o["name"] in bad_queries:
            failed += 1
    failed = min(attempted, failed + len(table_level))
    good = [o for o in ops if o["ok"]]
    lat = [o["t1"] - o["t0"] for o in good]
    busy = run["busy_s"]
    n = max(1, len(good))
    by_kind = {}
    for o in good:
        if o["latency_kind"]:
            by_kind.setdefault(o["name"], []).append(o["t1"] - o["t0"])
    e2e = {
        "setup_s": run["session_s"] + statistics.median(run["setup_s"]),
        "ops_per_s": len(good) / busy,
        "op_latency_s": stats.typical_latency(by_kind.values()),
        "cpu_s_per_op": run["cpu_s"] / n,
        "heap_live_mb": run["heap_live_mb"],
    }
    report = {"rows_per_s": sum(o["csv_rows"] for o in good) / busy}
    for kind in ("write", "read"):
        xs = [o["t1"] - o["t0"] for o in good if o["kind"] == kind]
        report[kind + "_n"] = len(xs)
        report[kind + "_p50_s"] = statistics.median(xs) if xs else None
        p, report[kind + "_tail_s"] = stats.tail(xs)
        report[kind + "_tail_percentile"] = p
        first, second = stats.halves(
            [(o["t0"], o["t1"] - o["t0"]) for o in good if o["kind"] == kind])
        report[kind + "_p50_first_half_s"] = first
        report[kind + "_p50_second_half_s"] = second
    st = run.get("state", {})
    if st.get("input.csv_bytes"):
        report["stored_bytes_per_input_byte"] = (
            st["catalog.stored_bytes"] / st["input.csv_bytes"])
    report["error_rate"] = failed / attempted if attempted else 1.0
    report["cores"] = run["cores"]
    report["session_start_s"] = run["session_s"]
    report["setup_reps_s"] = statistics.median(run["setup_s"])
    report["checks"] = len(run["checks"]) + len(extra_checks)
    report["heap_peak_mb"] = run["heap_peak_mb"]
    report["host_steal_s"] = run["host_steal_s"]
    report["op_p50_s"] = statistics.median(lat) if lat else None
    return attempted, failed, bad_checks, e2e, report


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    started = time.time()
    cp, built = build()
    # a run that built gets the build's allowance; others must end
    # within LIMIT_S of their start
    deadline = (time.time() if built else started) + LIMIT_S - 10
    run, run_dir = launch(cp, a, deadline)
    try:
        extra = oracle.check_curate(run_dir, run) if run["workload"] == "curate_corpus" else []
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    attempted, failed, bad, e2e, report = summarize(run, extra)
    if attempted == failed and not any(o["ok"] for o in run["ops"]):
        sys.stderr.write("".join(e + "\n" for e in run["errors"]))
        fail("no op of the workload completed", code=1)

    print("workload %s seed %d trace %d cores %d: %d ops, %d failed, checks %s"
          % (a.workload, a.seed, a.trace, run["cores"], attempted, failed,
             "ok" if not bad else "FAILED " + ", ".join(sorted(bad))))
    for e in run["errors"]:
        print("  error: " + e)
    for c in run["checks"] + extra:
        if not c["ok"]:
            print("  check %s: %s" % (c["name"], c.get("detail", "")))
    for k, v in e2e.items():
        print("  %-32s %14.6g %s" % (k, v, END_TO_END[k]))
    for k, v in report.items():
        print("  %-32s %14s" % (k, "n/a" if v is None else "%.6g" % v))
    if a.trace:
        metrics = stats.layer_metrics(run)
        metrics["traced.ops_per_s"] = e2e["ops_per_s"]
        metrics["traced.op_latency_s"] = e2e["op_latency_s"]
        for k in sorted(metrics):
            print("  %-40s %14.6g" % (k, metrics[k]))
        out = {k: {"value": v, "unit": layer_unit(k)} for k, v in metrics.items()}
    else:
        out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    for k in out:
        assert stats.valid_name(k), k
    print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


def layer_unit(name):
    if name.endswith("ops_per_s"):
        return "ops/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_added") \
            or name.endswith("bytes_rewritten"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("ratio") or name.endswith("metadata_answers") \
            or name.endswith("_per_file") or name.endswith("per_result_row"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
