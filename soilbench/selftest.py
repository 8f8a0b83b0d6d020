#!/usr/bin/env python3
"""Self-test of the benchmark on a tiny lake (sf=0.001).

Runs every workload once untraced and once traced and checks that:
- every metric `BENCHMARK.json` names appears with its unit; every
  end-to-end value is above 0, and every per-layer value is above 0 on
  at least one workload (exec.spill_mb and exec.gc_s excepted: at this
  scale nothing spills and no collection falls inside a task);
- no operation fails, and `attempted` counts every timed execution;
- no warm-pass operation that shuffles in its cold pass writes zero
  shuffle bytes (a result served from a memo an earlier pass filled);
- every operation's build + exec time reconciles with its wall time,
  and set-up loaded every base table an operation reads;
- io.write_mb is above 0 on survey_refresh only, and jobs and serial gap
  per operation are highest on corpus_curation;
- a deliberately corrupted output row is counted as a failed operation.

Usage (from the repository root): python3 soilbench/selftest.py
Exits 0 when every check holds.
"""
import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import run  # noqa: E402

SF = 0.001
MAY_BE_ZERO = {"exec.spill_mb", "exec.gc_s"}


def main():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []

    def expect(cond, msg):
        if not cond:
            problems.append(msg)
            print("FAIL", msg)

    layer = {}
    for w in sorted(run.WORKLOADS):
        ops = run.WORKLOADS[w][2]
        for trace in (0, 1):
            args = argparse.Namespace(workload=w, seed=1, seconds=1,
                                      trace=trace)
            line, diag, res = run.run(args, sf=SF)
            passes = 1 + len(res["warm"])
            tag = f"{w}/trace{trace}"
            expect(line["correct"] and line["failed"] == 0,
                   f"{tag}: failed operations {diag['failed_ops']}")
            expect(line["attempted"] == len(ops) * passes,
                   f"{tag}: attempted {line['attempted']}")
            expect(not diag["unloaded_tables"],
                   f"{tag}: tables loaded inside a pass {diag['unloaded_tables']}")
            names = spec["per_layer"] if trace else spec["end_to_end"]
            for m in names:
                got = line["metrics"].get(m["name"])
                expect(got is not None and got["unit"] == m["unit"],
                       f"{tag}: {m['name']} missing or wrong unit")
                if got is not None and not trace:
                    expect(got["value"] > 0, f"{tag}: {m['name']} is 0")
            if trace:
                layer[w] = (line["metrics"], len(ops))
                expect(not diag["memo_suspects"],
                       f"{tag}: warm shuffle vanished for {diag['memo_suspects']}")
                expect(not diag["unreconciled"],
                       f"{tag}: build + exec != wall for {diag['unreconciled']}")
            print("ok  ", tag, json.dumps(diag)[:200])

    for m in spec["per_layer"]:
        if m["name"] not in MAY_BE_ZERO:
            expect(any(v[m["name"]]["value"] > 0 for v, _ in layer.values()),
                   f"{m['name']} is 0 on every workload")
    for w, (v, _) in layer.items():
        expect((v["io.write_mb"]["value"] > 0) == (w == "survey_refresh"),
               f"{w}: io.write_mb = {v['io.write_mb']['value']}")
    for name in ("exec.jobs", "exec.serial_gap_s"):
        per_op = {w: v[name]["value"] / n for w, (v, n) in layer.items()}
        expect(max(per_op, key=per_op.get) == "corpus_curation",
               f"{name} per operation {per_op}")

    # n02's output is the k nearest neighbours of fixed queries, never empty
    w, first = "corpus_curation", "n02_ann_ivf"
    line, diag, res = run.run(
        argparse.Namespace(workload=w, seed=1, seconds=1, trace=0),
        corrupt_op=first, sf=SF)
    passes = 1 + len(res["warm"])
    expect(not line["correct"] and line["failed"] == passes
           and list(diag["failed_ops"]) == [first],
           f"corrupted row not caught: {line['failed']} {diag['failed_ops']}")

    print("selftest:", "FAILED" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
