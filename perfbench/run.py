#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 16 --trace 0

Builds graft and the bench from source (once per source tree), runs the
workload in one JVM at local[nproc], checks every output, and prints as
its last line one JSON object: correct, attempted, failed and the metrics
BENCHMARK.json lists -- the end-to-end ones with --trace 0, the per-layer
ones with --trace 1. Workloads and metrics are described in
perfbench/README.md.

Extra options: --scale tiny (small inputs, for the self-check),
--inject wrong|drop (plant a wrong result or a dropped commit, for the
self-check), --keep (keep the run directory, with the spans.jsonl of a
traced run).
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("pipeline", "table")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def parse():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--scale", default="full", choices=("full", "tiny"))
    p.add_argument("--inject", default="none", choices=("none", "wrong", "drop"))
    p.add_argument("--keep", action="store_true")
    return p.parse_args()


def declared_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def source_id():
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return "tree-" + build.digest()


def main():
    a = parse()
    declared = declared_metrics(a.trace)
    classes = build.build()
    data = BENCH / "data" / "sf0.001"
    work = build.out_root() / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    shutil.copy(BENCH / "pipeline_queries.txt", work / "pipeline_queries.txt")
    out = work / "result.json"
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"] +
           [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")] +
           ["-cp", build.classpath(classes), "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", str(data), "--work", str(work / "w"), "--out", str(out),
            "--inject", a.inject, "--scale", a.scale])
    env = dict(os.environ, PERFBENCH_GIT_SHA=source_id(),
               SPARK_LOCAL_DIRS=str(work / "tmp"))
    t0 = time.monotonic()
    log = open(work / "jvm.log", "w")
    try:
        r = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                           env=env, timeout=170)
    finally:
        log.close()
    if r.returncode != 0 or not out.exists():
        sys.stderr.write((work / "jvm.log").read_text()[-6000:])
        sys.exit(f"perfbench: {a.workload} run failed (exit {r.returncode})")
    rec = json.loads(out.read_text())
    attempted, failed = rec["attempted"], rec["failed"]
    notes = list(rec["notes"])
    if a.workload == "pipeline":
        checked, bad = __import__("oracle").check(data, work / "w")
        attempted += checked
        failed += len(bad)
        notes += [f"oracle {q}: {why}" for q, why in bad[:5]]
        rec["metrics"]["oracle.checked"] = {"value": checked, "unit": "count"}
    m = rec["metrics"]
    m["failed_frac"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    # a per-layer metric of a layer this workload does not call reads 0
    # (the detail line names them; selfcheck.py holds the expected list);
    # an end-to-end metric must always be measured
    missing = [n for n, _ in declared if n not in m]
    bad = [n for n in m if m[n]["value"] is None or not math.isfinite(m[n]["value"])]
    if bad or (missing and not a.trace):
        sys.exit(f"perfbench: unmeasured {missing} or non-finite {bad}")
    metrics = {name: {"value": m[name]["value"] if name in m else 0.0, "unit": unit}
               for name, unit in declared}
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "stamp": rec["stamp"], "notes": notes,
              "wall_s": round(time.monotonic() - t0, 3),
              "not_measured_on_this_workload": missing,
              "all_metrics": m}
    print(json.dumps(detail, sort_keys=True))
    if a.keep:
        print(f"run directory: {work}", file=sys.stderr)
    else:
        shutil.rmtree(work, ignore_errors=True)
    # a wrong result, an operation that threw and one out of retries all
    # count as failed, and any failure makes the run incorrect
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
