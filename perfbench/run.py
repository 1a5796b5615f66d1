"""Benchmark of the datasketches_java_spark package.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Each workload is a closed loop with one
client: one driver process submits one Spark job at a time on
local[nproc].  Inputs are generated from ``--seed`` (perfbench/inputs.py)
and cached under ``.bench_cache/``; the program only reads the parquet.

``--trace 0`` measures the end-to-end metrics of BENCHMARK.json;
``--trace 1`` runs the job once untraced and once decomposed into its
layers (spans plus Spark's event log per job group), and reports the
per-layer metrics.  Layers a workload does not run report 0.  Every
run checks the outputs; the last stdout line is the JSON result, and
the exit code is non-zero when any output check failed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "datasketches_java_spark"


def _workloads() -> dict:
    from dedup import DedupWorkload
    from sketch import SketchWorkload
    return {
        "dedup_8k": DedupWorkload(),
        "sketch_1m": SketchWorkload(),
    }


def _provenance(fit: dict, seed: int) -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark
    try:
        commit = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                                capture_output=True, text=True, timeout=10
                                ).stdout.strip() or None
    except OSError:
        commit = None
    digest = hashlib.sha256()
    for p in sorted(PACKAGE.rglob("*.py")):
        digest.update(p.read_bytes())
    return {**fit, "python": platform.python_version(),
            "pyspark": pyspark.__version__, "numpy": numpy.__version__,
            "pyarrow": pyarrow.__version__, "pandas": pandas.__version__,
            "duckdb": duckdb.__version__, "git_commit": commit,
            "package_sha256": digest.hexdigest(), "seed": seed}


def _run_all(args) -> int:
    rc = 0
    for name in _workloads():
        cmd = [sys.executable, str(Path(__file__)), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        rc = max(rc, subprocess.run(cmd).returncode)
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec_path = ROOT / "BENCHMARK.json"
    if not (PACKAGE / "__init__.py").is_file() or not spec_path.is_file():
        print(f"perfbench: no package at {PACKAGE} (run from the repository root "
              f"of a full checkout)", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    # Python workers forked by the JVM import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    if args.workload == "all":
        return _run_all(args)
    workloads = _workloads()
    if args.workload not in workloads:
        ap.error(f"--workload must be one of {', '.join([*workloads, 'all'])}")
    wl = workloads[args.workload]

    import harness
    import inputs
    import kernels

    spec = json.loads(spec_path.read_text())
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    fit = harness.machine()
    cache = ROOT / ".bench_cache"
    inp, meta = inputs.prepare(args.workload, args.seed, cache)
    scratch = cache / f"run-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    ops = harness.Ops()
    run = harness.SparkRun(scratch, fit, event_log=bool(args.trace))
    sampler = harness.RssSampler()
    session_s = setup_s = None
    detail, values = {}, {}
    try:
        # set-up, as a user pays it once: JVM launch and session start,
        # the first scan, then one untimed warm pass of the workload on a
        # small slice
        t0 = time.perf_counter()
        spark = run.start()
        state = wl.open(spark, inp)
        session_s = time.perf_counter() - t0
        wl.warm(spark, state, scratch)
        setup_s = time.perf_counter() - t0
        if args.trace:
            traced = wl.traced(spark, state, inp, scratch, ops)
        else:
            res = wl.measure(spark, state, inp, scratch, args.seconds, sampler, ops)
    except Exception:
        import traceback
        ops.attempted += 1
        ops.failed += 1
        ops.errors.append(traceback.format_exc())
    finally:
        run.close()
    log_counts, log_samples = run.log_counts()
    if not ops.failed:
        if args.trace:
            values = {**wl.layer_metrics(traced, run.events_dir), **log_counts}
            k = kernels.run(args.seed)
            values.update(k["metrics"])
            detail["kernels_computed"] = k["computed"]
            detail["spans_s"] = dict(traced["tracer"].spans)
        else:
            values = {
                "setup_s": setup_s,
                "items_per_s": res["items"] / statistics.median(res["walls"]),
                "peak_rss_mb": sampler.peak / harness.MB,
                "recall": res["recall"],
            }
            detail.update({k: v for k, v in res.items() if k != "recall"},
                          peak_jvm_mb=sampler.peak_largest / harness.MB,
                          rss_samples=sampler.samples)
    detail.update(workload=args.workload, session_start_s=session_s,
                  setup_s=setup_s, inputs=meta,
                  provenance=_provenance(fit, args.seed),
                  log={**log_counts, "samples": log_samples}, errors=ops.errors)
    if ops.errors:
        print(f"perfbench: {args.workload} failed:\n" + "\n".join(ops.errors)
              + "\n--- spark log tail ---\n" + run.log_tail(), file=sys.stderr)
    shutil.rmtree(scratch, ignore_errors=True)

    metrics = {}
    if not ops.failed:
        unknown = set(values) - {m["name"] for m in wanted}
        assert not unknown, f"metrics missing from BENCHMARK.json: {unknown}"
        for m in wanted:   # layers this workload bypasses read 0
            metrics[m["name"]] = {"value": values.get(m["name"], 0), "unit": m["unit"]}
    print(json.dumps({"detail": detail}))
    for name, m in metrics.items():
        print(f"{args.workload:14s} {name:34s} {m['value']:>14.6g} {m['unit']}")
    print(f"{args.workload:14s} {'error_rate':34s} "
          f"{ops.failed / max(ops.attempted, 1):>14.6g} ratio")
    correct = ops.failed == 0 and ops.attempted > 0
    print(json.dumps({"correct": correct, "attempted": max(ops.attempted, 1),
                      "failed": ops.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
