#!/usr/bin/env python3
"""End-to-end benchmark of graft.

    python3 perfbench/run.py --workload adhoc|curate|stream_cdc \
        --seed N --seconds S --trace 0|1

Builds graft and the benchmark from source (reused while the sources are
unchanged), generates the workload's inputs from the seed, runs one Spark
JVM with local[nproc] for the workload, checks every output (DuckDB for the
SQL-expressible ones) and prints one JSON object as the last line of
stdout. `--trace 0` reports the end-to-end metrics, `--trace 1` the
per-layer ones. The line before it stamps the run (git HEAD, host, JVM and
Spark versions, seed, a host calibration reading before and after).
Everything it writes stays under `.perfbench/` at the root of the checkout.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

HEAP = "3g"
CURATE_DOCS = 4000
JVM_BUDGET_S = 170

END_TO_END = {
    "latency_p50_ms": "ms", "latency_p90_ms": "ms", "rows_per_s": "1/s",
    "job_s": "s", "setup_s": "s", "heap_mb": "MB",
}

EXT_OPS = ["curate", "dedupNearBy", "removeDupSpans", "flagContaminated",
           "classifierFilter", "ivfTopK", "semDedup"]
KERNELS = ["graft_hashed_shingles", "graft_minhash_sig", "graft_jaccard64",
           "graft_span_cut", "graft_int8_dot", "graft_classifier_sum"]

PER_LAYER = {
    "model.parse_ms": "ms", "stages.translate_ms": "ms",
    "catalyst.optimize_ms": "ms", "catalyst.plan_ms": "ms",
    "codegen.compile_count": "count", "codegen.compile_ms": "ms",
    "exec.execute_ms": "ms", "exec.jobs": "count", "exec.tasks": "count",
    "exec.job_wall_ms": "ms", "exec.driver_gap_ms": "ms",
    "exec.executor_cpu_ms": "ms", "exec.scheduler_delay_ms": "ms", "exec.gc_ms": "ms",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "unattributed_ms": "ms",
    **{f"ext.{op}.{m}": u for op in EXT_OPS for m, u in
       [("wall_s", "s"), ("jobs", "count"), ("driver_gap_s", "s"),
        ("executor_cpu_s", "s"), ("shuffle_bytes", "bytes")]},
    **{f"kernels.{k}.ns_per_row": "ns" for k in KERNELS},
    "streaming.query_planning_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes", "streaming.state_commit_ms": "ms",
    "streaming.rows_per_batch": "count", "gen.lag_p90_ms": "ms",
    "trace.unit_ms": "ms", "trace.self_sum_ms": "ms", "trace.overhead_ms": "ms",
    "work.repeat_share": "ratio", "work.retraction_share": "ratio",
    "work.state_rows": "count",
    **{f"work.near_dup_share.{t}": "ratio" for t, _ in gen.TIERS},
}

WORKLOADS = ("adhoc", "curate", "stream_cdc")

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_head():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def generate(workload, data, seed):
    """Write the workload's inputs; returns workload-property figures."""
    if workload == "adhoc":
        gen.tables(os.path.join(data, "adhoc"), 0.01, seed)
        shutil.copy(os.path.join(HERE, "adhoc_queries.json"), data)
    elif workload == "curate":
        tiers = gen.corpus(os.path.join(data, "curate"), CURATE_DOCS, seed)
        return {f"work.near_dup_share.{t}": tiers[t] / CURATE_DOCS for t, _ in gen.TIERS}
    return {}


def check(workload, data, out, result):
    """Oracle checks; returns the number of failed operations they find."""
    import oracle
    if workload == "adhoc":
        queries = json.load(open(os.path.join(HERE, "adhoc_queries.json")))
        # every later run of a query was compared against this reference
        return len(oracle.adhoc(data, out, queries)) * result["info"]["runs_per_query"]
    if workload == "curate":
        return len(set(oracle.curate(data, out)))
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench")
    classes, jars = build.build(work)
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    data, out, tmp = (os.path.join(run_dir, d) for d in ("data", "out", "tmp"))
    for d in (data, out, tmp):
        os.makedirs(d, exist_ok=True)
    try:
        t0 = time.time()
        props = generate(a.workload, data, a.seed)
        gen_s = time.time() - t0
        cpus = nproc()
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={tmp}"] + ADD_OPENS +
               ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
                "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", data, "--out", out, "--cpus", str(cpus)])
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            p = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                               timeout=JVM_BUDGET_S)
        jvm_log = open(os.path.join(run_dir, "jvm.log")).read()
        sys.stderr.writelines(l for l in jvm_log.splitlines(True) if l.startswith("[perfbench"))
        if p.returncode != 0:
            sys.stderr.write(jvm_log[-6000:])
            raise SystemExit(f"benchmark JVM exited with {p.returncode}")
        result = json.load(open(os.path.join(out, "result.json")))
        t1 = time.time()
        failed = result["failed"] + check(a.workload, data, out, result)
        sys.stderr.write(f"perfbench: inputs {gen_s:.1f} s, JVM {t1 - t0 - gen_s:.1f} s, "
                         f"checks {time.time() - t1:.1f} s\n")
        attempted = result["attempted"]
        info = result["info"]

        e2e = dict(result["e2e"])
        e2e["setup_s"] += gen_s
        layer = {k: 0.0 for k in PER_LAYER}
        layer.update({k: v for k, v in result["layer"].items() if k in PER_LAYER})
        layer.update(props)
        pick = PER_LAYER if a.trace else END_TO_END
        values = {**layer, **e2e}
        finite = all(isinstance(values.get(k), (int, float)) and math.isfinite(values[k])
                     for k in pick)
        if a.trace:
            # spans on each unit add up to no more than the unit's time
            finite = finite and layer["trace.self_sum_ms"] <= layer["trace.unit_ms"] * 1.0001 + 1e-6
        metrics = {k: {"value": values[k] if math.isfinite(values.get(k, math.nan)) else 0.0,
                       "unit": u} for k, u in pick.items()}
        print(json.dumps({"stamp": {
            "git_head": git_head(), "workload": a.workload, "seed": a.seed,
            "seconds": a.seconds, "trace": a.trace, "nproc": cpus, "heap": HEAP,
            "heap_max_mb": info.get("heap_max_mb"), "jvm": info.get("jvm_version"),
            "spark": info.get("spark_version"), "samples": info.get("samples"),
            "hostcal_before_s": info.get("hostcal_before_s"),
            "hostcal_after_s": info.get("hostcal_after_s"),
            "failed_frac": failed / max(1, attempted)}}))
        print(json.dumps({"correct": failed == 0 and finite, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        if not os.environ.get("PERFBENCH_KEEP"):      # keep inputs and logs to debug
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
