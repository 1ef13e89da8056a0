#!/usr/bin/env python3
"""graft's end-to-end benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds graft and the benchmark's JVM code from source (sbt, offline), generates
the workload's input from the seed, runs the workload in one JVM on
local[nproc] with one client thread, checks every output, and prints a
report followed by one JSON line: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are BENCHMARK.json's end_to_end
metrics; with --trace 1 its per_layer metrics from a traced run.
"""
import argparse
import glob
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

import check  # noqa: E402
import gen  # noqa: E402
from stats import describe, percentile  # noqa: E402

WORKLOADS = ("flagship_wordstats", "curate_pipeline", "analytics_mix")
FLAGSHIP_BYTES, FLAGSHIP_WARM_BYTES = 8_000_000, 2_000_000
DOCS_BASE, DOCS_FACTOR, DOCS_FILES, DOCS_WARM_BASE = 1000, 2, 8, 200
STAR_SF = 0.01
# Hash-gated SparkEntry queries from Relational*, Events, Analytics* and Skew.
ANALYTICS_QUERIES = [
    "q1_pricing_summary", "q4_order_priority", "q12_priority_counts", "q_semi_join",
    "q_window_rank", "q_rollup", "q_events_hourly", "q_funnel", "q_trend", "q_gini",
    "q_anova", "q_key_skew",
]
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_proc(cmd, cwd, env, timeout, log_path):
    """Run ``cmd`` in its own process group; kill the group on timeout."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def log_tail(path, n=30):
    with open(path, "rb") as f:
        return b"\n".join(f.read().splitlines()[-n:]).decode("utf-8", "replace")


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The Spark installation's jars directory: $SPARK_HOME/jars, else next to
    the spark-submit on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME or put spark-submit on the PATH")
    return os.path.join(home, "jars")


def build(work):
    """Compile graft + the benchmark's JVM code with sbt unless the sources are unchanged."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(work, "build.stamp")
    digest = sources_digest()
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Xmx2g"]))
    log = os.path.join(work, "build.log")
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dperfbench.sparkJars={spark_jars()}",
                   "compile"], HERE, env, BUILD_TIMEOUT_S, log)
    if rc != 0:
        fail(f"build failed (rc={rc}):\n{log_tail(log)}")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def generate(workload, seed, data, warm):
    """Write the input (and a small warm-up input, if the workload uses one);
    return the input's size in bytes and the generation time."""
    t0 = time.perf_counter()
    if workload == "flagship_wordstats":
        gen.arabic_corpus(data, seed, FLAGSHIP_BYTES)
        gen.arabic_corpus(warm, seed, FLAGSHIP_WARM_BYTES)
        in_bytes = sum(os.path.getsize(f) for f in glob.glob(os.path.join(data, "**", "*.txt"), recursive=True))
    elif workload == "curate_pipeline":
        in_bytes = gen.documents(data, seed, DOCS_BASE, DOCS_FACTOR, DOCS_FILES)
        gen.documents(warm, seed, DOCS_WARM_BASE, DOCS_FACTOR, DOCS_FILES)
    else:
        gen.star_tables(data, seed, STAR_SF)
        in_bytes = sum(os.path.getsize(f) for f in glob.glob(os.path.join(data, "*.parquet")))
    return in_bytes, time.perf_counter() - t0


def run_jvm(classes, workload, seed, seconds, trace, cores, data, warm, out, deadline):
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dderby.system.home={out}", f"-Djava.io.tmpdir={out}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{spark_jars()}/*", "perfbench.Main",
              "--workload", workload, "--data", data, "--out", out, "--seconds", str(seconds),
              "--trace", str(trace), "--cores", str(cores), "--seed", str(seed)])
    if workload == "analytics_mix":
        cmd += ["--queries", ",".join(ANALYTICS_QUERIES)]
    else:
        cmd += ["--warm", warm]
    log = os.path.join(out, "jvm.log")
    launch_ms = time.time() * 1000.0
    rc = run_proc(cmd, ROOT, dict(os.environ), max(10.0, deadline - time.monotonic()), log)
    if rc != 0:
        fail(f"JVM failed (rc={rc}):\n{log_tail(log)}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f), launch_ms


def check_outputs(workload, res, data, out):
    """Label of every sample → list of problems with its output."""
    if workload == "flagship_wordstats":
        expect = check.load_expect(data)
        return {s["label"]: check.check_flagship(os.path.join(out, s["label"]), expect)
                for s in res["samples"] if s["error"] is None}
    if workload == "curate_pipeline":
        oracle = check.Oracle(data, res["oracle"], ["documents"])
        return {s["label"]: check.check_curate(os.path.join(out, s["label"]), oracle)
                for s in res["samples"] if s["error"] is None}
    oracle = check.Oracle(data, res["oracle"], check.STAR_TABLES)
    return {q: oracle.check(q, os.path.join(out, "check", q), ordered=True) for q in res["oracle"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_TIMEOUT_S

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"graft's sources are not at {ROOT}/src/main/scala; run from a full checkout")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    classes = build(work)
    deadline = max(deadline, time.monotonic() + 120)  # a first build does not eat the run's budget

    run_dir = os.path.join(work, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    data, warm, out = (os.path.join(run_dir, d) for d in ("data", "warm", "out"))
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in (data, warm, out):
        os.makedirs(d)
    try:
        in_bytes, gen_s = generate(args.workload, args.seed, data, warm)
        cores = len(os.sched_getaffinity(0))
        t_jvm = time.perf_counter()
        res, launch_ms = run_jvm(classes, args.workload, args.seed, args.seconds, args.trace,
                                 cores, data, warm, out, deadline)
        t_check = time.perf_counter()
        problems = check_outputs(args.workload, res, data, out)
        check_s, jvm_s = time.perf_counter() - t_check, t_check - t_jvm
    finally:
        spans = os.path.join(out, "spans.json")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(work, f"spans-{args.workload}-{args.seed}.json"))
        shutil.rmtree(run_dir, ignore_errors=True)

    samples = res["samples"]
    errors = [s for s in samples if s["error"] is not None]
    wrong = [s for s in samples if s["error"] is None and problems.get(s["label"])]
    bad_outputs = {k: v for k, v in problems.items() if v}
    attempted = len(samples)
    failed = len(errors) + len(wrong)
    correct = failed == 0 and not bad_outputs and not res["warm_errors"]
    lat = [s["seconds"] for s in samples if s["error"] is None] or [float("nan")]
    walls = res["unit_walls_s"]
    in_mb = in_bytes / 1e6
    # one timed call is one pipeline job, except in analytics_mix where it is
    # one query and the input is read once per round of all queries
    per_unit_s = percentile(walls, 50) if args.workload == "analytics_mix" else percentile(lat, 50)
    setup_s = (res["first_timed_ms"] - launch_ms) / 1000.0

    print(f"== perfbench {args.workload} seed={args.seed} cores={cores} trace={args.trace}")
    print(f"input {in_mb:.2f} MB; gen.build_s={gen_s:.2f} jvm_s={jvm_s:.2f} check_s={check_s:.2f}")
    print(f"timed calls: {describe(lat)} (s)")
    print(f"units: {describe(walls)} (s): {' '.join(f'{w:.3f}' for w in walls)}")
    by_label = {}
    for s in samples:
        if s["error"] is None and args.workload == "analytics_mix":
            by_label.setdefault(s["label"], []).append(s["seconds"])
    for k, v in sorted(by_label.items(), key=lambda kv: -percentile(kv[1], 50)):
        print(f"  {k:28s} p50={percentile(v, 50):.4f} n={len(v)}")
    print(f"error_rate={failed / max(1, attempted):.4f} ({len(errors)} failed, {len(wrong)} wrong, "
          f"{attempted} attempted)")
    for k, v in sorted(bad_outputs.items()):
        print(f"  WRONG {k}: {'; '.join(v)[:300]}")
    for s in errors[:3]:
        print(f"  FAILED {s['label']}: {s['error']}")
    for e in res["warm_errors"][:3]:
        print(f"  FAILED warm-up: {e}")

    if args.trace:
        layers = dict(res["layers"], **{"gen.build_s": gen_s})
        names = [m["name"] for m in spec["per_layer"]]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        print("where the traced wall time goes (self time per span):")
        print(res["where"])
        for k in sorted(set(layers) - set(names)):
            print(f"  (not in BENCHMARK.json) {k}={layers[k]}")
    else:
        values = {
            "throughput_mb_s": in_mb / per_unit_s,
            "query_p50_s": percentile(lat, 50),
            "query_p90_s": percentile(lat, 90),
            "queries_per_s": attempted / res["measure_wall_s"],
            "setup_s": setup_s,
            "peak_rss_mb": res["peak_rss_mb"],
        }
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        for k, v in metrics.items():
            print(f"{k} = {v['value']:.4f} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
