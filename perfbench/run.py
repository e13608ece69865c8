#!/usr/bin/env python3
"""The repository benchmark: one closed-loop workload per run, in a fresh JVM.

    python3 perfbench/run.py --workload etl_sql --seed 1 --seconds 5 --trace 0

Workloads (see BENCHMARK.json for the metric catalogue):

  etl_sql        the reference's hourly dataflow landing in a SQL lake table:
                 IncrementalPipeline.runBatch (+ compactLedger), INSERT INTO
                 of the converted hour, MERGE / UPDATE / DELETE / OPTIMIZE IF
                 NEEDED, point and range SELECTs and a targetView consumer read
  nightly_dedup  the standing LLM-data stores (LSH index, ClusterStore, IVF-PQ,
                 inverted index): one build, then nightly ingest + searches

The first run builds the engine and the harness from source (build.py).
Every input derives from --seed. The run measures for --seconds of closed-loop
operations after an untimed set-up, then checks the outputs against
independent models. Every table lives under a per-run temp root inside the
build dir, deleted at exit.

--trace 0 prints the end-to-end metrics; --trace 1 wraps every call into an
engine module in a span, folds Spark job/stage/task metrics into the spans
through a SparkListener, prints the per-layer metrics and writes the spans
as JSON (--trace-out, default <build dir>/traces/). diff.py compares two
such files.

The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics; the line before it carries the run's parameters (seed,
input sizes, nproc, heap, Spark version) and sample counts. The exit code is
nonzero when a correctness check failed or the run could not complete.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing beside the sources
import build  # noqa: E402

WORKLOADS = ("etl_sql", "nightly_dedup")
JVM_BUDGET_S = 170


def catalogue():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", default=None,
                    help="span JSON path for --trace 1 (default: <build dir>/traces/)")
    args = ap.parse_args()

    try:
        e2e, layers = catalogue()
        jvm = build.ensure_built()
    except (build.BuildError, OSError, ValueError, KeyError) as e:
        print(f"[perfbench] cannot run: {e}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    run_root = os.path.join(build.build_dir(), "runs", f"{args.workload}-{os.getpid()}")
    result_file = os.path.join(run_root, "result.json")
    trace_out = args.trace_out or os.path.join(
        build.build_dir(), "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(os.path.join(run_root, "tmp"))
    cmd = jvm + [f"-Djava.io.tmpdir={run_root}/tmp", "perfbench.Main",
                 "--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--root", run_root, "--out", result_file, "--cpus", str(nproc),
                 "--heap-gb", str(build.heap_gb()), "--trace-out", os.path.abspath(trace_out)]
    # a SIGTERM to this script still stops the JVM and removes the run root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=run_root)
    try:
        rc = proc.wait(timeout=JVM_BUDGET_S)
        if not os.path.exists(result_file):
            print(f"[perfbench] no result (jvm exit {rc})", file=sys.stderr)
            return 1
        with open(result_file) as f:
            res = json.load(f)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] run exceeded {JVM_BUDGET_S}s; killed", file=sys.stderr)
        return 1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_root, ignore_errors=True)

    got = res["metrics"]
    if args.trace:
        # a layer this workload does not exercise made 0 calls: it reads 0
        missing = [m["name"] for m in layers if m["name"] not in got]
        res["report"]["layers_not_exercised"] = len(missing)
        metrics = {m["name"]: got.get(m["name"], {"value": 0, "unit": m["unit"]})
                   for m in layers}
        res["report"]["trace_file"] = os.path.relpath(trace_out, build.ROOT)
    else:
        absent = [m["name"] for m in e2e if m["name"] not in got]
        if absent:
            print(f"[perfbench] end-to-end metrics missing: {absent}", file=sys.stderr)
            return 1
        metrics = {m["name"]: got[m["name"]] for m in e2e}
    line = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}
    print(json.dumps(res["report"], sort_keys=True))
    print(json.dumps(line))
    return 0 if line["correct"] and rc == 0 else 1


if __name__ == "__main__":
    t0 = time.time()
    code = main()
    print(f"[perfbench] done in {time.time() - t0:.1f}s", file=sys.stderr)
    sys.exit(code)
