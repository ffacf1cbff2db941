"""Benchmark entry point: one workload, one fresh process.

    python3 perfbench/run.py --workload olap_batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: with
``--trace 0`` the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
its per-layer metrics. Lines before it (prefixed ``# ``) carry the
workload's own named metrics, sample counts and series.

Exits 2 without printing a result when the program under test is not in
the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("olap_batch", "view_serving")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=1.0,
        help="input size factor (the smoke test uses a small one)",
    )
    return ap.parse_args(argv)


def _declared() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "proteus_spark", "__init__.py")):
        print("perfbench: proteus_spark not found next to perfbench/", file=sys.stderr)
        return 2
    e2e_units, layer_units = _declared()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from common import RunContext

    # a terminated run still stops Spark, waits for the JVM and removes
    # its run directory (the ``finally`` below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ctx = RunContext(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), scale=args.scale, root=ROOT,
    )
    t0 = time.perf_counter()
    try:
        if args.workload == "olap_batch":
            import olap_batch as wl
        else:
            import view_serving as wl
        res = wl.run(ctx)
    finally:
        ctx.close()
    res.extra["wall_s"] = time.perf_counter() - t0

    units = layer_units if args.trace else e2e_units
    source = res.layers if args.trace else res.e2e
    missing = sorted(set(units) - set(source))
    if missing:
        print(f"perfbench: workload did not report {missing}", file=sys.stderr)
        return 3
    print("# " + args.workload + " " + json.dumps(res.extra, sort_keys=True))
    if args.trace:
        print("# e2e_under_trace " + json.dumps(res.e2e, sort_keys=True))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {
            k: {"value": source[k], "unit": units[k]} for k in units
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
