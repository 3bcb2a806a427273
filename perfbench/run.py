"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_cold --seed 1 --seconds 10 --trace 0

Workloads: ``serve_cold`` (wl_serve.py) and ``index_ingest`` (wl_ingest.py). Run from the root of a source checkout.
Prints the inputs, machine facts, every metric with its unit and the
correctness verdict, then, as the last line of stdout, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Spans of a
traced run are written to ``.perfbench_out/``. Exits non-zero, printing no
result, when the run fails.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from common import OUT_ROOT, WorkDir, log, machine_facts, write_json  # noqa: E402
from metrics import END_TO_END, PER_LAYER, UNITS  # noqa: E402

WORKLOADS = ("serve_cold", "index_ingest")


def _run(workload: str, seed: int, seconds: float, trace: bool, work: WorkDir) -> dict:
    import google_spark.oracle  # noqa: F401 — fail fast outside a source checkout

    if workload == "index_ingest":
        import wl_ingest

        return wl_ingest.run(seed, seconds, trace, work)
    import wl_serve

    return wl_serve.run(seed, seconds, trace, work)


def _layers(res: dict) -> dict[str, float]:
    vals = {name: 0.0 for name, *_ in PER_LAYER}
    vals.update({k: v for k, v in res["e2e"].items() if k in vals})
    vals.update(res.get("layers", {}))
    vals.update({k: v for k, v in res.get("bundle", {}).items() if k in vals})
    vals["error_rate"] = res["failed"] / res["attempted"]
    return vals


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = WorkDir(args.workload, args.seed)
    try:
        res = _run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    except Exception:  # noqa: BLE001 — top level: report and fail the run
        traceback.print_exc()
        return 1
    finally:
        work.remove()

    if args.trace:
        names = [n for n, *_ in PER_LAYER]
        values = _layers(res)
    else:
        names = [n for n, *_ in END_TO_END]
        values = res["e2e"]
    metrics = {n: {"value": float(values[n]), "unit": UNITS[n]} for n in names}
    bad = [n for n, m in metrics.items() if not math.isfinite(m["value"])]
    if bad:
        log(f"non-finite metrics: {bad}")
        return 1
    if res.get("spans") is not None:
        write_json(os.path.join(OUT_ROOT, f"spans-{args.workload}-{args.seed}.json"), res["spans"])

    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds:g} trace {args.trace}")
    print("machine " + " ".join(f"{k}={v}" for k, v in machine_facts().items()))
    for k, v in res["extra"].items():
        print(f"info {k} {v:.6g}" if isinstance(v, float) else f"info {k} {v}")
    for n, v in res["e2e"].items():
        if n not in metrics:
            print(f"info {n} {v:.6g} {UNITS[n]}")
    for n, m in metrics.items():
        print(f"metric {n} {m['value']:.6g} {m['unit']}")
    print(f"error_rate {res['failed'] / res['attempted']:.6g} ({res['failed']} of {res['attempted']})")
    for msg in res["mismatches"][:20]:
        print(f"mismatch {msg}")
    correct = res["failed"] == 0
    print(f"correct {str(correct).lower()}")
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
