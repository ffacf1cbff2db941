"""Pre-freeze full-registry oracle sweep — the driver-faithful gate.

The automated pytest gate (tests/test_oracle_gate.py) runs at sf0.001 for
speed, but the external driver verifies at sf0.01 — and fp-summation-
sensitive queries can pass at one SF and fail at the other (partial-
aggregation order changes with data volume / partition count). Rounds 3-4
covered this with a MANUAL end-of-round sweep; this script checks that
sweep in so it runs before every verification-window freeze:

    python scripts/gate_full_registry.py              # sf0.01, all queries
    python scripts/gate_full_registry.py --sf sf0.001 # other SF
    python scripts/gate_full_registry.py --window     # first-50 only
    python scripts/gate_full_registry.py --only 'stream_*'  # name patterns

Driver-faithful details:
- a PLAIN local[32] session (no session.py builder configs — the driver
  hands the queries its own session; _tune_session must do all the work);
- run from a FOREIGN cwd (the script chdirs to a temp dir) so pickled
  closures that accidentally depend on repo-relative imports fail here,
  not in the driver;
- same compare as the driver: row count, sorted column names, and an
  order-insensitive value multiset (tests/oracle_utils.compare).

Exit code 0 = every oracled query matches; 1 = at least one mismatch or
error (listed on stderr). One JSON line on stdout mirrors the driver's
CORRECTNESS file shape.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
from fnmatch import fnmatch

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="sf0.01", help="testdata subdir (default sf0.01)")
    ap.add_argument(
        "--window", action="store_true", help="check only the first-50 PRIORITY window"
    )
    ap.add_argument(
        "--only", nargs="*", default=None,
        help="restrict to queries matching these shell-style patterns",
    )
    ap.add_argument("--cores", type=int, default=32)
    args = ap.parse_args()
    sf_dir = os.path.join("/root/testdata", args.sf)

    # foreign cwd: catches closures that assume the repo is the cwd
    os.chdir(tempfile.mkdtemp(prefix="proteus_gate_"))

    from pyspark.sql import SparkSession

    from proteus_spark import registry
    from tests.oracle_utils import compare, duckdb_conn

    spark = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .appName("proteus_gate")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(args.cores))
        .getOrCreate()
    )
    con = duckdb_conn(sf_dir)

    specs = registry._ordered()
    names = list(specs)
    if args.window:
        names = names[:50]
    if args.only:
        names = [n for n in names if any(fnmatch(n, p) for p in args.only)]

    results: dict[str, dict] = {}
    bad: list[str] = []
    t_start = time.time()
    for name in names:
        spec = specs[name]
        oracle = spec.resolve_oracle()
        t0 = time.time()
        try:
            df = spec.fn(spark, sf_dir)
            if oracle is None:
                n = df.count()
                results[name] = {"rows_only": True, "spark_rows": n, "err": None}
                status = f"rows-only ({n} rows)"
            else:
                problems = compare(df, con, oracle)
                results[name] = {
                    "rows_match": not any("rowcount" in p for p in problems),
                    "schema_match": not any("columns" in p for p in problems),
                    "hash_match": not problems,
                    "err": "; ".join(problems) or None,
                }
                if problems:
                    bad.append(name)
                    status = "MISMATCH: " + "; ".join(problems)[:200]
                else:
                    status = "ok"
        except Exception as exc:  # noqa: BLE001 — gate must report, not die
            results[name] = {"hash_match": False, "err": f"{type(exc).__name__}: {exc}"}
            bad.append(name)
            status = f"ERROR: {type(exc).__name__}: {str(exc)[:160]}"
        print(
            f"# [{len(results)}/{len(names)}] {name}: {status} "
            f"({time.time() - t0:.1f}s)",
            file=sys.stderr,
        )

    print(
        json.dumps(
            {
                "sf": args.sf,
                "checked": len(names),
                "green": len(names) - len(bad),
                "bad": bad,
                "elapsed_sec": round(time.time() - t_start, 1),
                "results": results,
            }
        )
    )
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
