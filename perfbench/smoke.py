#!/usr/bin/env python3
"""Smoke run of the benchmark at sf0.001: every workload, untraced and
traced, for one second each. Checks that every metric BENCHMARK.json names
is printed with its unit and that no operation failed. Exits nonzero if any
check fails.

Usage: python3 perfbench/smoke.py [--sf-dir DIR]   (default: sf0.001 beside
the sf_dir of perfbench/workloads.json)
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    ap = argparse.ArgumentParser()
    default_sf = Path(json.loads((ROOT / "perfbench" / "workloads.json").read_text())["sf_dir"]).parent / "sf0.001"
    ap.add_argument("--sf-dir", default=str(default_sf))
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bad = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            r = subprocess.run([sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", w,
                                "--seed", "7", "--seconds", "1", "--trace", str(trace),
                                "--sf-dir", args.sf_dir], cwd=ROOT, capture_output=True, text=True)
            if r.returncode != 0:
                bad.append(f"{w} trace={trace}: exit {r.returncode}: {r.stderr[-2000:]}")
                continue
            res = json.loads(r.stdout.strip().splitlines()[-1])
            want = {m["name"]: m["unit"] for m in bench[kind]}
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            if got != want:
                bad.append(f"{w} trace={trace}: metrics/units differ: "
                           f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                           f"units {[k for k in want if k in got and got[k] != want[k]]}")
            failed_frac = res["failed"] / max(res["attempted"], 1)
            if failed_frac != 0 or not res["correct"]:
                bad.append(f"{w} trace={trace}: failed_frac {failed_frac} "
                           f"({res['failed']} of {res['attempted']})")
            print(f"smoke {w} trace={trace}: {len(got)} metrics, attempted {res['attempted']}, "
                  f"failed {res['failed']}", file=sys.stderr)
    for b in bad:
        print("SMOKE FAIL:", b, file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
