"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

For each workload, at a few percent of the benchmark's input sizes:

1. an untraced run must be correct and print every end-to-end metric
   with its unit;
2. a traced run whose expected answers were all replaced by wrong ones
   must print every per-layer metric with its unit, and every
   correctness check must fail under its own name.

Metric names and units are read from BENCHMARK.json. Each run is a
child process, as a benchmark run is.
Exit code 0 when everything holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import ROOT, benchmark_metrics  # noqa: E402

TINY = {
    "DEDUP_FILES": 120,
    "DEDUP_BODIES": 1,
    "STREAM_ROWS": 30,
    "LINK_MENTIONS": 80,
    "LINK_HOT": 40,
}

# A wrong expected answer for every correctness check of each workload.
WRONG = {
    "dedup_wide": {
        "dedup_wide.cluster_checksum": "wrong",
        "dedup_wide.pairwise_f1": 1.5,
        "stream_ingest.all_assigned": -1,
        "stream_ingest.transitive_checksum": "wrong",
        "registry.dedup_minhash_lsh.result_hash": "wrong",
        "registry.dedup_decontaminate.oracle_parity": "wrong",
    },
    "link_hot": {
        "link_hot.accuracy": -1.0,
        "link_hot.pred_checksum": "wrong",
        "link_hot.store_roundtrip": "wrong",
    },
}


def child(workload: str, trace: bool, wrong: bool) -> None:
    """Runs inside the child process: shrink the inputs, optionally
    pre-load wrong answers, measure, print the result."""
    from perfbench import harness, run, workloads

    for k, v in TINY.items():
        setattr(workloads, k, v)
    expect = harness.Expect()
    if wrong:
        expect.values.update(WRONG[workload])
    print(json.dumps(run.measure(workload, seed=3, seconds=0, trace=trace, expect=expect)))


def _run_child(workload: str, trace: bool, wrong: bool) -> dict:
    code = (
        "import sys; sys.path.insert(0, %r); from perfbench import selftest; "
        "selftest.child(%r, %r, %r)" % (ROOT, workload, trace, wrong)
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=900
    )
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"selftest: {workload} child exited {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def _expect_metrics(result: dict, units: dict[str, str], where: str, errors: list[str]) -> None:
    for name, unit in units.items():
        got = result["metrics"].get(name)
        if got is None:
            errors.append(f"{where}: metric {name} missing")
        elif got["unit"] != unit or not isinstance(got["value"], (int, float)):
            errors.append(f"{where}: metric {name} printed as {got!r}, unit should be {unit}")


def main() -> int:
    errors: list[str] = []
    end_to_end, per_layer = benchmark_metrics("end_to_end"), benchmark_metrics("per_layer")
    for workload, checks in WRONG.items():
        clean = _run_child(workload, trace=False, wrong=False)
        if not clean["correct"] or clean["failed"]:
            errors.append(f"{workload}: clean run failed {clean['failed']} operations")
        _expect_metrics(clean, end_to_end, f"{workload} untraced", errors)

        bad = _run_child(workload, trace=True, wrong=True)
        _expect_metrics(bad, per_layer, f"{workload} traced", errors)
        if bad["correct"]:
            errors.append(f"{workload}: wrong expected answers still read correct")
        text = "\n".join(bad["failures"])
        for check in checks:
            if f"check {check}:" not in text:
                errors.append(f"{workload}: check {check} did not trip on a wrong answer")
        print(f"selftest: {workload} ok={not errors} failures={len(bad['failures'])}", file=sys.stderr)
    for e in errors:
        print(f"selftest: {e}", file=sys.stderr)
    print("selftest: " + ("FAILED" if errors else "passed"))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
