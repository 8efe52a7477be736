#!/usr/bin/env python3
"""graft benchmark: one run of one workload, one summary line.

    python3 graftbench/run.py --workload csr_etl --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source (``graftbench/harness``, sbt) into ``.bench_build/``;
later runs reuse the build while the sources are unchanged. Each run then

1. generates the workload's inputs from ``--seed`` (``gen.py``),
2. starts one fresh ``local[nproc]`` JVM that executes the workload's fixed
   op schedule (untimed warm-up cycles, then timed cycles) and checks every
   op's output,
3. for ``query_mix``, checks every query result against the DuckDB oracle,
4. prints the summary as the last stdout line: the end-to-end metrics with
   ``--trace 0``, the per-layer metrics (and a span file) with ``--trace 1``.

See ``graftbench/README.md`` for the workloads, the schedule and the metrics.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import oracle  # noqa: E402

DEADLINE_S = 170  # the whole run, build excluded
BUILD_TIMEOUT_S = 800
HEAP = "2g"

# Fixed op schedule per workload: untimed warm-up phases, then the timed
# cycle repeated a fixed function of --seconds times (one cycle per nominal
# cycle length), never "as many as fit": every run with the same --seconds
# executes the same ops. README.md has the warm-up curves these rest on.
CSR_CYCLE = ["cold", "noop", "noop", "delta"]
SCHEDULES = {  # workload: (warm-up, timed cycle, nominal cycle seconds)
    "csr_etl": (CSR_CYCLE, CSR_CYCLE, 10.0),
    "query_mix": (["cold", "results"], ["cold", "noop", "noop", "delta"], 16.0),
}
QUERY_SF = 0.01

# (query, operator module). Read queries whose staged writes land under
# java.io.tmpdir, which the run points into its own directory.
QUERY_MIX = [
    ("q1_pricing_summary", "Relational"),
    ("events_sessionize", "EventAnalytics"),
    ("csr_delimited_ingest", "CsrQueries"),
    ("docs_jsonl_ingest", "CorpusQueries"),
    ("docs_pack_sequences", "CorpusQueries"),
    ("ngs_maf_mutations", "NgsQueries"),
    ("ngs_seg_gene_overlap", "NgsQueries"),
    ("q_copurchase_pairs", "JoinQueries"),
    ("q_bloom_semi", "JoinQueries"),
    ("ann_filtered_topk", "AnnQueries"),
]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def checkout_root():
    root = os.path.dirname(BENCH)
    needed = [os.path.join(root, "build.sbt"), os.path.join(root, "src", "main", "scala", "graft")]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        log(f"not a graft checkout, missing: {', '.join(os.path.relpath(p, root) for p in missing)}")
        sys.exit(2)
    return root


def source_stamp(root):
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha1()
    tops = [os.path.join(root, "src", "main"), os.path.join(root, "project"),
            os.path.join(BENCH, "harness")]
    files = [os.path.join(root, "build.sbt")]
    for top in tops:
        for d, dirs, fs in os.walk(top):
            # skip build outputs: target/ and sbt's nested project/project/
            dirs[:] = sorted(x for x in dirs if x != "target"
                             and not (x == "project" and os.path.basename(d) == "project"))
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def build(root, out):
    """Compile engine + harness once per source state; return the classpath."""
    stamp, cp_file = source_stamp(root), os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    log("building engine and harness (sbt)")
    with open(os.path.join(out, "build.log"), "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                           cwd=os.path.join(BENCH, "harness"), stdout=subprocess.PIPE, stderr=lf,
                           stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        log(f"build failed (exit {p.returncode}); see {os.path.join(out, 'build.log')}")
        sys.exit(3)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1])
    return lines[-1]


def prepare(run_dir, workload, seed):
    """Write the workload's inputs, and what the checks expect, under run_dir."""
    if os.path.exists(run_dir):
        shutil.rmtree(run_dir)
    os.makedirs(os.path.join(run_dir, "tmp"))
    if workload == "csr_etl":
        expected = gen.csr_drop_zone(run_dir, seed)
        with open(os.path.join(run_dir, "expected.properties"), "w") as f:
            f.writelines(f"obs.{k}={v}\n" for k, v in sorted(expected.items()))
    else:
        gen.query_tables(os.path.join(run_dir, "data", "gbsf"), seed, QUERY_SF)
        with open(os.path.join(run_dir, "queries.txt"), "w") as f:
            f.writelines(f"{q} {m}\n" for q, m in query_order(seed))


def query_order(seed):
    order = list(QUERY_MIX)
    random.Random(f"order:{seed}").shuffle(order)
    return order


def schedule(workload, seconds, warmup_cycles=None):
    """(warm-up phases, timed phases) of one run."""
    warm, cycle, nominal = SCHEDULES[workload]
    if warmup_cycles is not None:
        warm = cycle * warmup_cycles
    return warm, cycle * max(1, round(seconds / nominal))


def launch(classpath, run_dir, workload, sched, trace, deadline):
    """Run the harness JVM; return its result.json, or None on failure."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in ("SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS")}
    tmp = os.path.join(run_dir, "tmp")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Dderby.system.home={run_dir}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Main", workload, run_dir, ",".join(sched[0]),
              ",".join(sched[1]), str(trace), str(time.time_ns())])
    with open(os.path.join(run_dir, "jvm.log"), "w") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            log("JVM ran past the deadline; stopping it")
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
    if code != 0:
        log(f"JVM exited {code}; see {os.path.join(run_dir, 'jvm.log')}")
        return None
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def summarize(res, spec, trace):
    samples, scalars = res["samples"], res["metrics"]

    def med(name):
        return statistics.median(samples[name]) if samples.get(name) else None

    def value(name):
        if name in samples:
            return med(name)
        if name in scalars:
            return scalars[name]
        # both from noop, the phase with the most timed samples
        if name == "trace.overhead_s" and samples.get("noop_s.traced") and samples.get("noop_s.untraced"):
            return med("noop_s.traced") - med("noop_s.untraced")
        if name == "jvm.warmup_drift" and samples.get("noop_s"):
            return samples["noop_s"][0] / samples["noop_s"][-1]
        return 0.0  # the layer does no work on this workload

    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": value(m["name"]), "unit": m["unit"]} for m in wanted}
    counts = {m["name"]: len(samples.get(m["name"], [])) for m in wanted if m["name"] in samples}
    return metrics, counts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCHEDULES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--warmup", type=int, default=None,
                    help="warm up with this many timed cycles instead (to measure the warm-up curve)")
    a = ap.parse_args()
    root = checkout_root()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    classpath = build(root, out)

    start = time.monotonic()
    run_dir = os.path.join(out, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    prepare(run_dir, a.workload, a.seed)
    sched = schedule(a.workload, a.seconds, a.warmup)
    res = launch(classpath, run_dir, a.workload, sched, a.trace, start + DEADLINE_S)
    if res is None:
        sys.exit(4)
    failures = list(res["failures"])
    attempted = res["attempted"]
    if a.workload == "query_mix":
        verdicts = oracle.check(os.path.join(run_dir, "data", "gbsf"), os.path.join(run_dir, "out"))
        attempted += len(verdicts)
        failures += [f"oracle {q}: {why}" for q, why in sorted(verdicts.items()) if why]
    for f in failures:
        log(f"FAILED {f}")
    metrics, counts = summarize(res, spec, a.trace)
    log("ops: " + " ".join(res["ops"][:3]) + f" ... ({len(res['ops'])} ops)")
    log("samples per metric: " + ", ".join(f"{k}={v}" for k, v in counts.items()))
    if a.trace:
        log(f"span file: {os.path.relpath(os.path.join(run_dir, 'spans.json'), root)}")
    for sub in ("data", "drop", "deliveries", "pipe", "tmp", "out", "spark-warehouse"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
