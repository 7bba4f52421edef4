"""Per-round measurement harness (measure first).

Times registry keys at $SPARK_GRAFT_SF_DIR (default sf0.1) through the
noop sink and optionally dumps .explain("formatted") output to
plans/r<N>/. Produces the per-operator measured tables the
OPTIMIZATION_r<N>.md logs are built from.

Usage:
    python tools/profile_keys.py --round 13 --keys q1 q3 ...  # bench-name or registry-key
    python tools/profile_keys.py --round 13 --all             # every registry key, 1 run each
    python tools/profile_keys.py --round 13 --plans before    # headline plans to plans/r13/*_before.txt
    python tools/profile_keys.py --round 13 --runs 3          # best-of-N for --keys
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True, help="plans/r<N>/ and app name")
    ap.add_argument("--keys", nargs="*", default=[])
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", choices=["before", "after"], default=None)
    ap.add_argument("--out", default=None, help="write JSON results here")
    args = ap.parse_args()

    from base_etl_spark import build_session, execute_fully, queries
    from bench import HEADLINE

    spark = build_session(
        f"profile_r{args.round}", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()

    # resolve bench names to registry keys
    def resolve(name: str) -> tuple[str, str]:
        if name in HEADLINE:
            return name, HEADLINE[name]
        return name, name

    plan_dir = os.path.join(REPO, "plans", f"r{args.round}")
    if args.plans:
        os.makedirs(plan_dir, exist_ok=True)
        for bname, key in HEADLINE.items():
            df = qs[key](spark, SF_DIR)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(plan_dir, f"{bname}_{args.plans}.txt")
            with open(path, "w") as f:
                f.write(f"# {bname} ({key}) explain(formatted) @ {SF_DIR}\n")
                f.write(txt)
            print(f"wrote {path}", file=sys.stderr)
        return 0

    names = list(HEADLINE) if not (args.keys or args.all) else args.keys
    if args.all:
        names = list(qs)

    results: dict[str, float] = {}
    for name in names:
        bname, key = resolve(name)
        if key not in qs:
            print(f"!! unknown key {name}", file=sys.stderr)
            continue
        fn = qs[key]
        spark.sparkContext.setJobDescription(f"profile:{bname}")
        attempts = []
        for _ in range(args.runs):
            t0 = time.time()
            execute_fully(fn(spark, SF_DIR))
            attempts.append(time.time() - t0)
        spark.sparkContext.setJobDescription(None)
        results[bname] = round(min(attempts), 3)
        print(
            f"# {bname} ({key}): best {results[bname]}s of {[round(a, 3) for a in attempts]}",
            file=sys.stderr,
        )
    total = round(sum(results.values()), 3)
    line = json.dumps({"total": total, "keys": results, "sf_dir": SF_DIR, "runs": args.runs})
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
