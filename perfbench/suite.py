"""Run the workloads in fresh processes and print every metric.

    python3 perfbench/suite.py                     # two untraced + one traced run each
    python3 perfbench/suite.py --runs 10 --out perfbench/baseline.json

Each run is ``perfbench/run.py`` in its own process, with the
``run_seconds`` of BENCHMARK.json, for every workload it names. The suite
takes two sets of untraced runs, A and B, with distinct seeds: each of
``--runs`` rounds runs every workload once per set, and the order of the
workloads and of the sets alternates every round, so host drift lands on
both sets and every workload alike. Then it takes one traced run per
workload.

For each workload it prints, per set, the end-to-end metrics of
BENCHMARK.json and the workload's own named metrics with their units,
``ops`` and ``failed_ops``, the median, quartiles and spread
(IQR / median) of each, and how far set B's median sits from set A's next
to the metric's bound. Then it prints the traced run's per-layer metrics
and the tracing overhead: how far each end-to-end metric of the traced run
sits from the set-A run with the same seed. With ``--out`` it writes all
of it, plus the per-pass (``olap_batch``) and per-delta (``view_serving``)
series.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The workloads' own end-to-end metrics, by name and unit.
NAMED = {
    "olap_batch": {
        "query_ms_p50": "ms", "query_ms_p90": "ms", "queries_per_s": "1/s",
    },
    "view_serving": {
        "freshness_ms_p50": "ms", "freshness_ms_p90": "ms",
        "read_ms_p50": "ms", "read_ms_p90": "ms",
    },
}
SERIES = {"olap_batch": ("pass_s",), "view_serving": ("cycle_ms", "freshness_ms")}
SETS = ("A", "B")


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: rc={p.returncode}\n{p.stderr[-3000:]}")
    out = {"result": json.loads(lines[-1]), "seed": seed, "trace": trace}
    for line in lines[:-1]:
        tag, _, body = line[2:].partition(" ")
        if line.startswith("# ") and body.startswith("{"):
            out[tag] = json.loads(body)
    out["extra"] = out.pop(workload)
    return out


def spread(xs: list[float]) -> dict:
    if len(xs) < 2:
        return {"median": xs[0]}
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None}


def _set_record(rs: list[dict], workload: str, e2e_units: dict) -> dict:
    rec = {
        "seeds": [r["seed"] for r in rs],
        "ops": [r["result"]["attempted"] for r in rs],
        "failed_ops": [r["result"]["failed"] for r in rs],
        "end_to_end": {}, "named": {},
        "series": {k: [r["extra"][k] for r in rs] for k in SERIES[workload]},
    }
    rec["series"]["samples"] = [r["extra"]["samples"] for r in rs]
    for k, unit in e2e_units.items():
        xs = [r["result"]["metrics"][k]["value"] for r in rs]
        rec["end_to_end"][k] = {"unit": unit, "values": xs, **spread(xs)}
    for k, unit in NAMED[workload].items():
        xs = [r["extra"][k] for r in rs]
        rec["named"][k] = {"unit": unit, "values": xs, **spread(xs)}
    return rec


def _fmt(st: dict) -> str:
    if "q1" not in st:
        return f"{st['median']:>11.4f}"
    return (f"{st['median']:>11.4f} [{st['q1']:.4g}, {st['q3']:.4g}]"
            f" spread {st['spread']:.3f}")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=1, help="runs per workload per set")
    ap.add_argument("--seed", type=int, default=1,
                    help="set A uses seeds seed..seed+runs-1, set B the next runs seeds")
    ap.add_argument("--out", default=None)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    workloads = [w["name"] for w in spec["workloads"]]
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    runs = {w: {s: [] for s in SETS} for w in workloads}
    for i in range(args.runs):
        order = workloads if i % 2 == 0 else workloads[::-1]
        sets = SETS if i % 2 == 0 else SETS[::-1]
        for w in order:
            for s in sets:
                seed = args.seed + i + (args.runs if s == "B" else 0)
                r = run_once(w, seed, seconds, 0)
                runs[w][s].append(r)
                print(f"[round {i + 1}/{args.runs}] {w} set {s} seed {seed}: "
                      + ", ".join(f"{k}={v['value']:.4g}"
                                  for k, v in r["result"]["metrics"].items()),
                      file=sys.stderr)
    traced = {w: run_once(w, args.seed, seconds, 1) for w in workloads}

    record = {"seconds": seconds, "workloads": {}}
    for w in workloads:
        rec = {"sets": {s: _set_record(runs[w][s], w, e2e_units) for s in SETS}}
        a, b = rec["sets"]["A"], rec["sets"]["B"]
        print(f"\n== {w}: {len(a['seeds'])} run(s) per set, {seconds:g}s windows")
        for s in SETS:
            print(f"  set {s}: ops={sum(rec['sets'][s]['ops'])} "
                  f"failed_ops={sum(rec['sets'][s]['failed_ops'])}")
        # how much worse set B's median is than set A's, as a share of A's
        # (negative: better); the bound applies to either order
        rec["set_b_vs_a"] = {}
        for k, unit in e2e_units.items():
            ma = a["end_to_end"][k]["median"]
            mb = b["end_to_end"][k]["median"]
            worse = (mb - ma) / ma if better[k] == "lower" else (ma - mb) / ma
            rec["set_b_vs_a"][k] = worse
            print(f"  {k:<18} {unit:<4} A {_fmt(a['end_to_end'][k])}")
            print(f"  {'':<18} {'':<4} B {_fmt(b['end_to_end'][k])}"
                  f"  B worse by {worse:+.3f} (bound {bounds[k]})")
        for k, unit in NAMED[w].items():
            print(f"  {k:<18} {unit:<4} A {_fmt(a['named'][k])}")
            print(f"  {'':<18} {'':<4} B {_fmt(b['named'][k])}")

        t = traced[w]
        base = runs[w]["A"][0] if runs[w]["A"] else None
        overhead = {}
        if base is not None:
            for k, v in t["e2e_under_trace"].items():
                bv = base["result"]["metrics"][k]["value"]
                overhead[k] = (v - bv) / bv if bv else None
        layers = {k: v["value"] for k, v in t["result"]["metrics"].items()}
        detail = {k: v for k, v in t["extra"].items()
                  if k not in ("exec_ms", *SERIES[w], "read_ms")}
        rec["traced"] = {
            "seed": t["seed"], "correct": t["result"]["correct"],
            "per_layer": layers, "detail": detail,
            "exec_ms": t["extra"].get("exec_ms"),
            "tracing_overhead": overhead,
        }
        print(f"  -- traced run, seed {t['seed']} (correct={t['result']['correct']})")
        for k, v in t["result"]["metrics"].items():
            print(f"  {k:<26} {v['value']:>12.4f} {v['unit']}")
        for k, v in sorted(detail.items()):
            if isinstance(v, (dict, float, int)) and k not in NAMED[w]:
                print(f"  {k:<26} {json.dumps(v) if isinstance(v, dict) else f'{v:.4f}'}")
        for k, v in (t["extra"].get("exec_ms") or {}).items():
            print(f"  exec_ms.{k:<18} {v:>12.4f} ms")
        for k, v in overhead.items():
            if v is not None:
                print(f"  tracing overhead {k:<10} {v:+.1%}")
        record["workloads"][w] = rec
    if args.out:
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
