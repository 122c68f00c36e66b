#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

Usage (from the repository root):
    python3 graftbench/run.py --workload analytics_sql --seed 1 --seconds 10 --trace 0

Builds the harness (graft's sources plus graftbench/src) with sbt when a
source changed, runs the workload in one JVM over the fixed input tables
in graftbench/data/sf0.01, checks every operation's output, and prints
one JSON object as the last line of standard output:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics, with --trace 1 the
per-layer metrics. The seed fixes the order of a round's operations, the
export's sampling seed and the absorbed batch; the inputs never change.
The exit code is 0 only when no operation failed and every output is
correct.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402

WORKLOADS = ("analytics_sql", "store_lifecycle")
# a copy of graft's fixed sf0.01 test tables (seed 42, read-only)
DATA = os.path.join(HERE, "data", "sf0.01")
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "op_geomean_s": "s",
}
STORES = ("gram_index", "bloom_store", "corpus_profile")
STORE_QUERIES = ("dedup_incremental_idx", "dedup_incremental_bloom", "text_search_idx",
                 "corpus_profile", "store_status")
FUNCTIONS = ("graft_simhash", "graft_minhash", "graft_grams", "graft_grams_roll", "graft_winnow",
             "graft_deflate_len", "graft_char_grams", "graft_char_grams_hash",
             "graft_char_trigram_buckets", "graft_collect_capped", "graft_dot",
             "graft_lsh_buckets", "graft_lsh_probes", "graft_vec_sum", "graft_vec_min")
TRACE_KEYS = {
    "operators.call_s": "s", "operators.eager_jobs": "count",
    "planning.analysis_s": "s", "planning.optimization_s": "s", "planning.physical_s": "s",
    "dispatch.jobs": "count", "dispatch.stages": "count", "dispatch.tasks": "count",
    "dispatch.idle_s": "s", "dispatch.task_overhead_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.slot_busy_share": "share",
    "sources.bytes_read": "bytes", "sources.records_read": "count",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_bytes": "bytes",
    "collect.result_bytes": "bytes",
    "cache.builds": "count", "cache.hits": "count", "cache.hit_ratio": "share",
    "cache.persisted_bytes_peak": "bytes",
    "stores.corpus_scans": "count",
    "trace.wall_s": "s", "trace.self.call_s": "s", "trace.self.materialise_s": "s",
    "trace.self.job_s": "s", "trace.self.stage_s": "s", "trace.reconcile_err": "share",
    "trace.operations": "count",
}
PER_LAYER = {
    "session.create_s": "s", "session.warmup_s": "s", "jvm.heap_peak_mb": "MB",
    **TRACE_KEYS,
    "trace.overhead": "share",
    "sinks.sample_s": "s", "sinks.jdbc_write_s": "s", "sinks.jdbc_read_s": "s", "sinks.parquet_write_s": "s",
    "sinks.rows_written": "count", "sinks.bytes_written": "bytes",
    "sinks.export_rows_per_s": "rows/s",
    **{f"stores.{s}.build_s": "s" for s in STORES},
    **{f"stores.{s}.absorb_s": "s" for s in STORES},
    "stores.build_s": "s", "stores.absorb_s": "s", "stores.serve_p50_s": "s",
    "stores.bytes": "bytes", "stores.files": "count",
    **{f"functions.{f}.rows_per_s": "rows/s" for f in FUNCTIONS},
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def spark_home() -> str:
    """$SPARK_HOME, else the first Spark installation on PATH: a bin/
    holding spark-submit beside a jars/ directory."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    sys.exit("graftbench: no Spark installation found; set SPARK_HOME")


def source_stamp() -> str:
    """Hash of every file the harness build reads."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".scala")]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build() -> str:
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(HERE, "target", "source.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                          cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        sys.exit(f"graftbench: build failed ({proc.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def run_jvm(classes: str, args, work: str, data: str) -> None:
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ \
        else "java"
    cpus = len(os.sched_getaffinity(0))
    cmd = [java, *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS],
           "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
           # the Derby export target skips fsync: the disk's sync latency is
           # not graft's cost and would only add noise
           "-Dderby.system.durability=test",
           "-cp", f"{classes}:{spark_home()}/jars/*", "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--data", data, "--work", work,
           "--cpus", str(cpus)]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"graftbench: harness exceeded {JVM_TIMEOUT_S}s; see {work}/jvm.log")
    if code != 0:
        sys.exit(f"graftbench: harness exited {code}; see {work}/jvm.log")


def clean_rounds(run: dict, phases=("round",)) -> list:
    """The run's timed rounds (of `phases`) in which every operation
    succeeded."""
    bad = {(o["phase"], o["round"]) for o in run["ops"] if not o["ok"]}
    return [r for r in run["rounds"]
            if r["phase"] in phases and (r["phase"], r["round"]) not in bad]


def round_ops(run: dict, phases=("round",)) -> list:
    """The operations of the clean timed rounds (of `phases`)."""
    keep = {(r["phase"], r["round"]) for r in clean_rounds(run, phases)}
    return [o for o in run["ops"] if (o["phase"], o["round"]) in keep]


def end_to_end(run: dict) -> dict:
    """An operation's latency, and the round's wall time, is the fastest of
    the run's rounds: the first round after the warm-up pass still pays for
    JIT compilation, and the box's own noise only ever adds time. The
    store workload's delta phase (builds with a batch left out, absorbs, a
    serve) runs once after the rounds and adds one latency per step to the
    geometric mean. A round or phase in which an operation failed counts
    for neither."""
    per_name = {}
    for o in round_ops(run, ("round", "delta")):
        per_name.setdefault(o["name"], []).append(o["latency_s"])
    rounds = clean_rounds(run)
    return {
        "setup_s": run["setup"]["create_s"] + run["setup"]["warmup_s"],
        "wall_s": min((r["wall_s"] for r in rounds), default=0.0),
        "op_geomean_s": geomean([min(v) for v in per_name.values()]),
    }


def per_layer(run: dict) -> dict:
    m = {k: 0.0 for k in PER_LAYER}
    m["session.create_s"] = run["setup"]["create_s"]
    m["session.warmup_s"] = run["setup"]["warmup_s"]
    m["jvm.heap_peak_mb"] = run["heap_peak_mb"]
    for k in TRACE_KEYS:
        m[k] = run["trace"][k]
    rounds = clean_rounds(run)
    # untraced, traced, traced, untraced: the means cancel a steady trend
    plain = mean([r["wall_s"] for r in rounds if not r["traced"]])
    traced = mean([r["wall_s"] for r in rounds if r["traced"]])
    m["trace.overhead"] = traced / plain - 1 if plain and traced else 0.0
    n_rounds = max(1, len(rounds))
    ops = round_ops(run)
    delta = round_ops(run, ("delta",))

    exports = run["export"]
    if exports:
        for k in ("sample_s", "jdbc_write_s", "parquet_write_s", "jdbc_read_s"):
            m[f"sinks.{k}"] = sum(e[k] for e in exports) / n_rounds
        # every sampled row is written twice: to Derby and to parquet
        m["sinks.rows_written"] = 2 * sum(e["rows"] for e in exports) / n_rounds
        m["sinks.bytes_written"] = sum(e["bytes"] for e in exports) / n_rounds
        write_s = m["sinks.jdbc_write_s"] + m["sinks.parquet_write_s"]
        m["sinks.export_rows_per_s"] = m["sinks.rows_written"] / write_s if write_s else 0.0
    for s in STORES:
        for step in ("build", "absorb"):
            m[f"stores.{s}.{step}_s"] = median([o["latency_s"] for o in delta
                                                if o["name"] == f"{step}:{s}"])
    m["stores.build_s"] = sum(m[f"stores.{s}.build_s"] for s in STORES)
    m["stores.absorb_s"] = sum(m[f"stores.{s}.absorb_s"] for s in STORES)
    if run.get("store_bytes") is not None:
        m["stores.serve_p50_s"] = median([o["latency_s"] for o in ops
                                          if o["name"] in STORE_QUERIES])
        m["stores.bytes"] = run["store_bytes"]
        m["stores.files"] = run["store_files"]
    for f in FUNCTIONS:
        m[f"functions.{f}.rows_per_s"] = run["functions"][f]
    return m


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("graftbench: graft's sources (src/main/scala/graft) are not next to graftbench/")

    classes = build()
    work = os.path.join(HERE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = DATA
    run_jvm(classes, args, work, data)

    with open(os.path.join(work, "run.json")) as fh:
        run = json.load(fh)
    with open(os.path.join(work, "check.json")) as fh:
        check = json.load(fh)
    failures = checks.check_run(args.workload, data, work, check)
    failed = [o for o in run["ops"] if not o["ok"]]
    failures += [f"{o['phase']} operation {o['name']} failed" for o in failed]
    for f in failures:
        print(f"CHECK FAILED {f}", file=sys.stderr)

    if args.trace:
        values, units = per_layer(run), PER_LAYER
    else:
        values, units = end_to_end(run), END_TO_END
    result = {
        "correct": not failures,
        "attempted": len(run["ops"]),
        "failed": len(failed),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
