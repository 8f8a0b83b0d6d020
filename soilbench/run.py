#!/usr/bin/env python3
"""soil-spark benchmark: one run of one workload.

Usage (from the repository root):
  python3 soilbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

A run builds the engine once per source tree (`soilbench/build.py`),
generates the workload's input lake from the seed (`soilbench/lake.py`),
runs set-up, a cold pass and warm passes in one `local[4]` JVM
(`soilbench.Harness`), checks every operation's output against its
DuckDB oracle (`soilbench/oracle.py`), and prints one JSON object as the
last line of stdout. With --trace 0 the metrics are the end-to-end ones,
with --trace 1 the per-layer ones (a traced run drains Spark's listener
bus and reads storage after every operation, so its wall times are not
the end-to-end ones). Everything a run writes lives under
`.bench_build/` in the working directory and the run's own part of it
is removed at exit.
"""
import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import lake  # noqa: E402
import oracle  # noqa: E402

CORES = 4
HEAP = "3g"
# the harness must end this long after the build; the oracle check and
# clean-up follow, and a run must end within 180 s
JVM_TIMEOUT_S = 150

# name -> (input scale, base tables loaded at set-up, operations in pass
# order). Scale 1.0 is the engine's sf1 shapes; 0.01 holds lineitem 60k,
# orders 15k, customer 1.5k, documents 500 and embeddings 200 rows. Each
# workload runs at the smallest scale at which its warm passes do enough
# work to measure steadily: comparing two commits takes 4 + 22 x 3 runs,
# which must end within an hour, so a run has about 40 s.
WORKLOADS = {
    "soilmap_batch": (
        0.01, ["orders", "lineitem"],
        ["a03_dominant_condition", "a20_hz_dcp_wta", "a24_month_pivot",
         "p09_planner_catalog_sweep"]),
    "survey_refresh": (
        0.01, ["orders", "lineitem", "customer"],
        ["io_pipe_csv_roundtrip", "io_lake_partitioned", "s15_cdc_apply",
         "v03_calc_aws", "val01_horizon_gaps", "r01_dominant_component_key",
         "s16_mukey_raster"]),
    "corpus_curation": (
        0.01, ["documents", "embeddings"],
        ["d06_dup_clusters", "n02_ann_ivf"]),
}

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s",
              "task_cpu_s": "s", "cache_mb": "MB"}

PER_LAYER = {
    "tables.fill_s": "s", "tables.cache_partitions": "count",
    "tables.cache_mb": "MB",
    "queries.build_s": "s", "queries.exec_s": "s",
    "plans.analysis_s": "s", "plans.optimization_s": "s",
    "plans.planning_s": "s",
    "codegen.compiles": "count", "codegen.compile_s": "s",
    "codegen.warm_compiles": "count",
    "exec.jobs": "count", "exec.serial_gap_s": "s", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.scan_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.max_task_s": "s", "exec.gc_s": "s",
    "exec.spill_mb": "MB",
    "storage.rdds": "count", "storage.blocks_mb": "MB",
    "io.write_mb": "MB", "io.files": "count",
}


class RunError(Exception):
    pass


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res):
    warm = res["warm"]
    return {
        "setup_s": res["setup_s"],
        "cold_s": res["cold"]["wall"],
        "warm_s": median([p["wall"] for p in warm]),
        "task_cpu_s": median([p["cpu_s"] for p in warm]),
        "cache_mb": res["cache_b"] / 1e6,
    }


def per_layer(res):
    """Set-up numbers come from the one set-up, planning and codegen
    come from the cold pass, GC time is summed over the warm passes (a
    3 GB heap often collects less than once a pass), and everything else
    is the median over warm passes."""
    cold, warm = res["cold"], res["warm"]

    def w(key, scale=1.0):
        return median([p[key] for p in warm]) * scale

    return {
        "tables.fill_s": res["fill_s"],
        "tables.cache_partitions": res["base_partitions"],
        "tables.cache_mb": res["base_b"] / 1e6,
        "queries.build_s": w("build_s"),
        "queries.exec_s": w("exec_s"),
        "plans.analysis_s": cold["analysis_s"],
        "plans.optimization_s": cold["optimization_s"],
        "plans.planning_s": cold["planning_s"],
        "codegen.compiles": cold["compiles"],
        "codegen.compile_s": cold["compile_s"],
        "codegen.warm_compiles": w("compiles"),
        "exec.jobs": w("jobs"),
        "exec.serial_gap_s": w("serial_gap_s"),
        "exec.stages": w("stages"),
        "exec.tasks": w("tasks"),
        "exec.task_run_s": w("task_run_s"),
        "exec.task_cpu_s": w("task_cpu_s"),
        "exec.scan_mb": w("scan_b", 1e-6),
        "exec.shuffle_write_mb": w("shuffle_write_b", 1e-6),
        "exec.max_task_s": w("max_task_s"),
        "exec.gc_s": sum(p["gc_s"] for p in warm),
        "exec.spill_mb": w("spill_b", 1e-6),
        "storage.rdds": w("storage_rdds"),
        "storage.blocks_mb": w("storage_b", 1e-6),
        "io.write_mb": w("write_b", 1e-6),
        "io.files": w("write_files"),
    }


def memo_suspects(res):
    """Operations that shuffle in the cold pass but write no shuffle
    bytes in some warm pass: the signature of a result served from a
    memo an earlier pass filled."""
    cold = {o["op"]: o for o in res["cold"]["ops"]}
    out = set()
    for p in res["warm"]:
        for o in p["ops"]:
            if cold[o["op"]]["shuffle_write_b"] > 0 and o["shuffle_write_b"] == 0:
                out.add(o["op"])
    return sorted(out)


def reconcile(res, tol_rel=0.05, tol_abs=0.005):
    """Operations whose build + exec time differs from their wall time by
    more than the stated tolerance."""
    bad = []
    for p in [res["cold"]] + res["warm"]:
        for o in p["ops"]:
            if abs(o["wall"] - o["build"] - o["exec"]) > tol_abs + tol_rel * o["wall"]:
                bad.append(f"{p['name']}/{o['op']}")
    return bad


def run_jvm(classes, args, workdir, ops, tables, deadline):
    jtmp = os.path.join(workdir, "jtmp")
    os.makedirs(jtmp)
    cmd = build.java_command(classes, HEAP) + [
        f"-Djava.io.tmpdir={jtmp}",
        f"-Dspark.local.dir={os.path.join(workdir, 'local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')}",
        "soilbench.Harness", args.workload, os.path.join(workdir, "lake"),
        os.path.join(workdir, "check"), os.path.join(workdir, "scratch"),
        str(args.seconds), str(args.trace), ",".join(ops),
        ",".join(tables)]
    log_path = os.path.join(workdir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=workdir, stdout=subprocess.PIPE,
                                stderr=log, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RunError("harness timed out")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    lines = [ln for ln in out.splitlines() if ln.startswith("SOILBENCH ")]
    if proc.returncode != 0 or not lines:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RunError(f"harness exit {proc.returncode}:\n{tail}")
    return json.loads(lines[-1][len("SOILBENCH "):])


def run(args, corrupt_op=None, sf=None):
    """One run; returns (result line, diagnostics, raw harness result).
    `sf` overrides the workload's input scale (the self-test's tiny
    lake); `corrupt_op` alters one output row of that operation before
    its oracle check."""
    if args.workload not in WORKLOADS:
        raise RunError(f"unknown workload {args.workload}")
    scale, tables, ops = WORKLOADS[args.workload]
    sf = sf or scale
    classes = build.build()
    deadline = time.time() + JVM_TIMEOUT_S
    root = os.path.join(os.getcwd(), ".bench_build", f"run-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        lake.generate(os.path.join(root, "lake"), args.seed, sf)
        res = run_jvm(classes, args, root, ops, tables, deadline)
        with open(os.path.join(root, "check", "oracle_sql.json")) as f:
            oracle_sql = json.load(f)
        checks = oracle.check_all(os.path.join(root, "lake"),
                                  os.path.join(root, "check"), ops,
                                  oracle_sql, res["errors"], corrupt_op)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    passes = 1 + len(res["warm"])
    failed_ops = sorted(op for op, (ok, _) in checks.items() if not ok)
    metrics = end_to_end(res) if args.trace == 0 else per_layer(res)
    units = END_TO_END if args.trace == 0 else PER_LAYER
    line = {
        "correct": not failed_ops,
        "attempted": len(ops) * passes,
        "failed": len(failed_ops) * passes,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                    for k in units},
    }
    diag = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": CORES, "sf": sf, "warm_passes": len(res["warm"]),
        "load_avg": os.getloadavg()[0], "host": platform.node(),
        "failed_ops": {op: checks[op][1] for op in failed_ops},
        "unloaded_tables": res["unloaded_tables"],
    }
    if args.trace:
        diag["memo_suspects"] = memo_suspects(res)
        diag["unreconciled"] = reconcile(res)
        diag["ops"] = {o["op"]: {k: o[k] for k in ("wall", "build", "exec",
                                                   "jobs", "serial_gap")}
                       for o in res["warm"][-1]["ops"]}
    return line, diag, res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        line, diag, _ = run(args)
    except (RunError, build.BuildError) as e:
        print(f"soilbench: {e}", file=sys.stderr)
        sys.exit(2)
    print(json.dumps(diag))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
