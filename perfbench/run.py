"""blink_spark benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload dedup_wide --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout, one job at a time from one
process at local[nproc]. Set-up starts the Spark session, generates the
seeded inputs (three times, median reported), computes expected answers
and runs one warm-up pass. Then it runs passes until ``--seconds`` have
gone (at least two), each bracketed by a fixed CPU probe, checks
every answer and reports the median pass. ``--trace 1`` adds one traced pass that calls each
layer's public functions one at a time with Spark's status REST API on,
writes its spans to .perfbench_out/, and prints the per-layer metrics
instead of the end-to-end ones.

The last line of stdout is one JSON object:
{"correct": bool, "attempted": int, "failed": int, "metrics": {name: {"value", "unit"}}}
Exit code 0 with a result, 1 if the harness itself failed, 2 if the
checkout holds no blink_spark package.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

INPUT_REPEATS = 3
MIN_PASSES = 2


def measure(
    workload_name: str, seed: int, seconds: float, trace: bool, expect=None
) -> dict:
    """One benchmark run. ``expect`` lets the self-test pre-load wrong
    expected answers."""
    t_start = time.perf_counter()
    work = harness.prepare_environment()
    spark = None
    # peak RSS is a traced-run metric: untraced runs do not sample /proc
    rss = harness.RssSampler() if trace else contextlib.nullcontext()
    try:
        with rss:
            spark = harness.start_spark(work, traced=trace)
            from perfbench.workloads import WORKLOADS

            session_s = time.perf_counter() - t_start
            ledger = harness.Ledger(expect or harness.Expect())
            wl = WORKLOADS[workload_name](spark, work, seed, ledger, traced=trace)
            # setup_s is not reported by traced runs: generate once there
            inputs = [wl.timed_make_inputs() for _ in range(1 if trace else INPUT_REPEATS)]
            inputs_s = harness.median(inputs)
            print(f"perfbench: session {session_s:.3f}s inputs {inputs}", file=sys.stderr)
            t0 = time.perf_counter()
            wl.prepare()
            prepare_s = time.perf_counter() - t0
            print(f"perfbench: prepare {prepare_s:.3f}s", file=sys.stderr)
            warmup_s = wl.run_pass()["wall"]

            passes, calib = [], []
            t0 = time.perf_counter()
            while len(passes) < MIN_PASSES or time.perf_counter() - t0 < seconds:
                calib.append(harness.calib_probe())
                passes.append(wl.run_pass())
                calib.append(harness.calib_probe())
            print(f"perfbench: {len(passes)} passes, calib {calib}", file=sys.stderr)

            layer = {}
            if trace:
                from perfbench.trace import Tracer

                tracer = Tracer(spark)
                calib.append(harness.calib_probe())
                t0 = time.perf_counter()
                layer, traced_job_s = wl.traced_pass(tracer)
                calib.append(harness.calib_probe())
                print(f"perfbench: traced pass {time.perf_counter() - t0:.3f}s", file=sys.stderr)
                # the traced job does the untraced job's work, stage by
                # stage, with every stage materialised inside its span;
                # passes still speed up as the JIT warms, so it is held
                # against the untraced pass just before it
                layer["trace.overhead_s"] = traced_job_s - passes[-1]["wall"]
                os.makedirs(harness.OUT_DIR, exist_ok=True)
                tracer.dump(
                    os.path.join(harness.OUT_DIR, f"trace_{workload_name}_{seed}.json"),
                    {"workload": workload_name, "seed": seed, "metrics": layer},
                )
    finally:
        harness.stop_spark(spark, work)

    if trace:
        layer.update({
            "failed_ratio": ledger.failed_ratio,
            "setup.session_s": session_s,
            "setup.inputs_s": inputs_s,
            "setup.warmup_s": warmup_s,
            "peak_rss_mb": rss.peak_mb,
            "host.calib_s": harness.median(calib),
        })
        units = harness.benchmark_metrics("per_layer")
        # a layer this workload does not run reads 0; any other metric
        # must have been computed unless an operation already failed
        missing = [k for k in units if k not in layer and not k.startswith(wl.idle_layers)]
        if missing and not ledger.failed:
            raise RuntimeError(f"per-layer metrics not computed: {missing}")
        values = {k: float(layer.get(k, 0.0)) for k in units}
    else:
        units = harness.benchmark_metrics("end_to_end")
        values = {
            "setup_s": session_s + inputs_s + prepare_s + warmup_s,
            "files_per_s": harness.median(p["files_per_s"] for p in passes),
            "accuracy": harness.median(wl.quality),
        }
    return {
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        "failures": ledger.failures,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["dedup_wide", "link_hot"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(harness.ROOT, "blink_spark", "pipeline.py")):
        print(f"perfbench: no blink_spark package under {harness.ROOT}", file=sys.stderr)
        return 2
    try:
        result = measure(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 1
    for f in result.pop("failures"):
        print(f"perfbench: failed: {f}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
