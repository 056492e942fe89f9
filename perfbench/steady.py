#!/usr/bin/env python3
"""Steadiness record: run the benchmark once per seed on each workload
and summarize every metric by median, quartiles and spread (the
inter-quartile range as a share of the median).

    python3 perfbench/steady.py --seeds 1-10 --out perfbench/steadiness.json

Runs go one at a time; every run's result, wall time and host steal
ratio is kept, so the record shows which runs met a busy host. Each set
of runs is stored under ``<workload>/trace<n>``, followed by
``/<tag>`` when ``--tag`` is given, so a second set of the same seeds
(``--tag set2``) sits beside the first instead of replacing it.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = p.stdout.strip().splitlines()
    diag = next((json.loads(ln[12:]) for ln in lines if ln.startswith("diagnostics ")), {})
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    return {
        "seed": seed,
        "exit": p.returncode,
        "wall_s": time.perf_counter() - t0,
        "steal_ratio": diag.get("host.steal_ratio"),
        "steps": diag.get("steps"),
        "result": result,
        "stderr_tail": None if result else p.stderr[-1500:],
    }


def summarize(runs: list[dict]) -> dict:
    ok = [r["result"] for r in runs if r["result"]]
    out = {}
    for name in ok[0]["metrics"] if ok else []:
        xs = [r["metrics"][name]["value"] for r in ok]
        q1, q2, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        out[name] = {
            "median": statistics.median(xs),
            "q1": q1,
            "q3": q3,
            "spread": (q3 - q1) / q2 if q2 else None,
            "unit": ok[0]["metrics"][name]["unit"],
        }
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    p.add_argument("--workloads", default=None, help="comma list; default: all in BENCHMARK.json")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--tag", default="", help="appended to every record key")
    p.add_argument("--out", type=Path, required=True)
    args = p.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    record = json.loads(args.out.read_text()) if args.out.exists() else {}
    for wl in names:
        runs = []
        for seed in args.seeds:
            runs.append(one_run(wl, seed, bench["run_seconds"], args.trace))
            r = runs[-1]
            print(wl, seed, r["exit"], f"{r['wall_s']:.1f}s", flush=True)
            key = f"{wl}/trace{args.trace}" + (f"/{args.tag}" if args.tag else "")
            record[key] = {"summary": summarize(runs), "runs": runs}
            args.out.write_text(json.dumps(record, indent=1) + "\n")
    for key, v in record.items():
        for name, s in v["summary"].items():
            spread = "n/a" if s["spread"] is None else f"{s['spread']:.3f}"
            print(f"{key:32s} {name:45s} median {s['median']:.4g} spread {spread}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
