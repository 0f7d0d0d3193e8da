#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <graph_fixpoint|corpus_churn> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the engine
and the harness from source (sbt, offline) into perfbench/target; later runs
reuse that build while the sources are unchanged. Each run copies its
inputs (perfbench/data: the engine's events and documents tables at scale
factor 0.001), builds the workload's at-rest state into a fresh cache
directory under .bench_build/, times passes over the read set in
one JVM (perfbench.Harness), checks every answer against the digests in
perfbench/digests.json, removes its run directory and prints one
`name value unit` line per metric, then one JSON result line.

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones (and
writes the run's spans to .bench_build/traces/). --record re-records the
reference digests for a workload instead of measuring.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
DIGESTS = os.path.join(HERE, "digests.json")
DATA = os.path.join(HERE, "data")
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
NOISY_STEAL = 0.05
CORES = 4

WORKLOADS = ("graph_fixpoint", "corpus_churn")
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    tmp = os.path.join(BUILD_DIR, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep sbt's global state and scratch files inside the checkout
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
            f"-Dsbt.global.base={os.path.join(BUILD_DIR, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts),
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 3)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-3000:] + p.stderr[-3000:])
        fail("build failed", 3)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1].strip())
    return lines[-1].strip()


def cpu_times():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def recorded_digests():
    """Reference answer digest of every query, per workload; the keys are
    each workload's read set."""
    with open(DIGESTS) as f:
        return json.load(f)


def run_harness(cp, workload, seed, seconds, trace, work, record=False, dump=None):
    """One harness JVM. `record` runs a single unmutated pass; `dump`, with
    it, also writes every answer as parquet under that directory."""
    data = os.path.join(work, "data")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    shutil.copytree(DATA, data)
    out = os.path.join(work, "result.json")
    cmd = (["java", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness", workload, str(seed), str(seconds),
              "1" if trace else "0", data, os.path.join(work, "cache"), out]
           + (["record"] + ([dump] if dump else []) if record else []))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness failed ({code})", 1)
    with open(out) as f:
        res = json.load(f)
    # keep the raw record of the last run (and the JVM log of a failing one)
    shutil.copy(out, os.path.join(BUILD_DIR, "last-result.json"))
    if any(o["error"] for o in res["ops"]):
        shutil.copy(os.path.join(work, "jvm.log"), os.path.join(BUILD_DIR, "last-failure.log"))
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        traces = os.path.join(BUILD_DIR, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(spans, os.path.join(traces, f"{workload}-seed{seed}.jsonl"))
    return res


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(res):
    """sweep_s is one pass over the workload's operations: the summed
    latencies of its churn cycle and reads, without the harness's own
    bookkeeping between them."""
    sweeps = {}
    for o in res["ops"]:
        sweeps[o["pass"]] = sweeps.get(o["pass"], 0.0) + o["seconds"]
    lat = [o["seconds"] for o in res["ops"] if o["kind"] == "query" and not o["error"]]
    return {
        "setup_s": (res["setup_s"], "s"),
        "sweep_s": (stats.nearest_rank(list(sweeps.values()), 0.5), "s"),
        "query_geomean_s": (stats.geomean(lat), "s"),
    }


def extras(res, attempted, failed):
    """Informational lines printed beside the contract metrics."""
    lat = [o["seconds"] for o in res["ops"] if o["kind"] == "query" and not o["error"]]
    out = {"failed_frac": (failed / attempted, "ratio"),
           "queries_timed": (len(lat), "count"),
           "query_p50_s": (stats.nearest_rank(lat, 0.5), "s"),
           "passes": (len(res["passes"]), "count"),
           "session_s": (res["session_s"], "s")}
    # the highest percentile with enough samples beyond it, if any
    for q in (0.99, 0.9, 0.75, 0.5):
        tail = stats.tail_percentile(lat, q)
        if tail is not None:
            out[f"query_p{round(q * 100)}_s"] = (tail, "s")
            break
    for kind in ("delete_docs", "append_docs"):
        ts = [o["seconds"] for o in res["ops"] if o["kind"] == kind and not o["error"]]
        if ts:
            out[f"{kind.split('_')[0]}_p50_s"] = (stats.nearest_rank(ts, 0.5), "s")
    return out


def per_layer(res):
    passes = res["passes"]
    steps = res["setup_steps"]
    self_s = res.get("layer_self_s", {})

    def per_pass(key):
        return mean([p.get(key, 0.0) for p in passes])

    wall = per_pass("wall_s")
    cycles = [o for o in res["ops"] if o["kind"] in ("delete_docs", "append_docs")]

    def op_p50(kind):
        ts = [o["seconds"] for o in cycles if o["kind"] == kind]
        return stats.nearest_rank(ts, 0.5) if ts else 0.0

    m = {
        "build.graph_cache_s": (steps.get("build.graph_cache", 0.0), "s"),
        "build.adjacency_s": (steps.get("build.adjacency", 0.0), "s"),
        "build.dedup_s": (steps.get("build.dedup", 0.0), "s"),
        "build.text_s": (steps.get("build.text", 0.0), "s"),
        "build.doc_aux_s": (steps.get("build.doc_aux", 0.0), "s"),
        "build.bytes_written": (res["at_rest_bytes"] / 1e6, "MB"),
        "build.at_rest_ratio": (res["at_rest_bytes"] / res["input_bytes"], "ratio"),
        "build.pinned_mb": (res["pinned_mb"], "MB"),
        "build.self_s": (self_s.get("build", 0.0), "s"),
        "operators.construct_s": (sum(o["construct_s"] for o in res["ops"]) / len(passes), "s"),
        "operators.side_jobs": (per_pass("side_jobs"), "count"),
        "operators.self_s": (self_s.get("operators", 0.0), "s"),
        "spark.jobs": (per_pass("jobs"), "count"),
        "spark.plan_s": (per_pass("plan_s"), "s"),
        "spark.task_cpu_s": (per_pass("task_cpu_s"), "s"),
        "spark.shuffle_write_mb": (per_pass("shuffle_write_bytes") / 1e6, "MB"),
        "spark.core_busy_frac": (per_pass("task_run_s") / (wall * CORES) if wall else 0.0, "ratio"),
        "spark.gc_s": (per_pass("gc_s"), "s"),
        "spark.self_s": (self_s.get("spark", 0.0), "s"),
        "driver.cpu_s": (per_pass("process_cpu_s") - per_pass("task_cpu_s"), "s"),
        "ingest.delete_docs_s": (op_p50("delete_docs"), "s"),
        "ingest.append_docs_s": (op_p50("append_docs"), "s"),
        "ingest.jobs_per_cycle": (per_pass("ingest_jobs"), "count"),
        "ingest.bytes_written_per_cycle": (per_pass("ingest_output_bytes") / 1e6, "MB"),
        "ingest.cache_files": (res["cache_files"] if cycles else 0, "count"),
        "ingest.self_s": (self_s.get("ingest", 0.0), "s"),
    }
    for reads in recorded_digests().values():
        for name in sorted(reads):
            ts = [o["seconds"] for o in res["ops"]
                  if o["kind"] == "query" and o["name"] == name and not o["error"]]
            m[f"query.{name}.p50_s"] = (stats.nearest_rank(ts, 0.5) if ts else 0.0, "s")
    m["host.jit_s"] = (res["jit_s"], "s")
    m["host.cpus"] = (res["cpus"], "count")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record reference digests for the workload's read set")
    args = ap.parse_args()

    cp = build()
    work = os.path.join(BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    before = cpu_times()
    try:
        res = run_harness(cp, args.workload, args.seed, args.seconds, bool(args.trace), work,
                          record=args.record)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    after = cpu_times()
    delta = [b - a for a, b in zip(before, after)]
    steal = delta[7] / sum(delta) if len(delta) > 7 and sum(delta) else 0.0

    if args.record:
        recorded = recorded_digests() if os.path.exists(DIGESTS) else {}
        bad = [o for o in res["ops"] if o["error"]]
        if bad:
            fail(f"cannot record, queries failed: {bad}", 1)
        recorded[args.workload] = {o["name"]: o["digest"] for o in res["ops"]}
        with open(DIGESTS, "w") as f:
            json.dump(recorded, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"recorded {len(res['ops'])} digests for {args.workload}")
        return

    expected = recorded_digests().get(args.workload, {})
    attempted, failed, failures = stats.count_failures(res["ops"], expected)
    for name, why in failures:
        print(f"perfbench: FAILED {name}: {why}", file=sys.stderr)

    if not any(o["kind"] == "query" and not o["error"] for o in res["ops"]):
        # no latency to report: show the failure counts and fail the run
        print(json.dumps({"correct": False, "attempted": attempted, "failed": failed,
                          "metrics": {}}))
        sys.exit(1)
    e2e = end_to_end(res)
    info = extras(res, attempted, failed)
    info["host.steal_frac"] = (steal, "ratio")
    info["host.noisy"] = (int(steal > NOISY_STEAL), "flag")
    if steal > NOISY_STEAL:
        print(f"perfbench: noisy host, {steal:.1%} of CPU time stolen", file=sys.stderr)
    if args.trace:
        metrics = per_layer(res)
        metrics["host.steal_frac"] = info.pop("host.steal_frac")
        shown = {f"traced.{k}": v for k, v in e2e.items()}
    else:
        metrics = e2e
        shown = {}
    for name, (value, unit) in list(metrics.items()) + list(shown.items()) + list(info.items()):
        print(f"{name} {value} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
