#!/usr/bin/env python3
"""Self-check of the benchmark, on small inputs (--scale tiny, sf0.001):

1. plain and traced runs of every workload are correct, and every metric
   BENCHMARK.json names is really emitted by the program, with the unit
   it declares: every end-to-end metric on every workload, and every
   per-layer metric on each workload but those of layers the workload
   does not call (NOT_MEASURED, checked exactly both ways);
2. a planted wrong result (pipeline, table) or a dropped commit (table)
   makes the run report failures and correct = false.

    python3 perfbench/selfcheck.py        # exits 0 when every check holds
"""
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent

# Per-layer metrics a workload does not measure, by name prefix: the query
# suite calls no table store, and the table workload runs no query suite.
NOT_MEASURED = {
    "pipeline": ("table.", "sql.", "sources.", "read.", "write.", "tx.",
                 "store.", "fs.", "setup.layout_s"),
    "table": ("queries.",),
}


def run(workload, trace, inject="none"):
    """Returns (result line, detail line) of one run."""
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "4", "--trace", str(trace),
           "--scale", "tiny", "--inject", inject]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"selfcheck: {' '.join(cmd[2:])} exited {r.returncode}")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    measured = {}  # per-layer name -> workloads that emitted it
    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res, detail = run(w, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            emitted = detail["all_metrics"]
            if set(res["metrics"]) != set(want):
                problems.append(f"{w} trace={trace}: result names "
                                f"{sorted(set(res['metrics']) ^ set(want))} differ")
            skip = {n for n in want if trace and n.startswith(NOT_MEASURED[w])}
            unmeasured = set(detail["not_measured_on_this_workload"])
            if unmeasured != skip:
                problems.append(f"{w} trace={trace}: not emitted "
                                f"{sorted(unmeasured - skip)}, emitted but expected "
                                f"unmeasured {sorted(skip - unmeasured)}")
            for name, unit in want.items():
                if name in emitted:
                    measured.setdefault(name, []).append(w)
                    if emitted[name]["unit"] != unit:
                        problems.append(f"{w} trace={trace}: {name} emitted in "
                                        f"{emitted[name]['unit']}, declared {unit}")
            if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
                problems.append(f"{w} trace={trace}: clean run reported "
                                f"{ {k: res[k] for k in ('correct', 'attempted', 'failed')} } "
                                f"notes {detail['notes'][:3]}")
            print(f"ok   {w} trace={trace}: {len(want) - len(skip)} of {len(want)} "
                  f"metrics emitted", flush=True)
        for inject in (("wrong", "drop") if w == "table" else ("wrong",)):
            res, _ = run(w, 0, inject)
            if res["failed"] < 1 or res["correct"]:
                problems.append(f"{w} inject={inject}: not caught ({res['failed']} failed)")
            else:
                print(f"ok   {w} inject={inject}: {res['failed']} of "
                      f"{res['attempted']} failed", flush=True)
    for key in ("end_to_end", "per_layer"):
        never = [m["name"] for m in spec[key] if m["name"] not in measured]
        if never:
            problems.append(f"{key}: never emitted by any workload: {never}")
    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
