"""Pair comparison of a parent and a change commit.

    python3 perfbench/compare.py --parent DIR --change DIR \\
        [--workload NAME ...] [--pairs 10] [--seed 1000]

DIR is a checkout of each commit.  For every workload it runs
``perfbench/run.py`` (untraced) in both checkouts, ``--pairs`` times,
alternating which side runs first, with a fresh seed per pair that
both sides share.  Both sides run this checkout's benchmark code, so
the comparison measures the program, not the benchmark.  Each
end-to-end metric of BENCHMARK.json is then judged per workload:

- ``gain``: at least 10 pairs, the change wins at least 9 in 10 of
  them (ties count for neither), and the medians differ by more than
  the parent's interquartile range;
- ``regression``: the change's median is worse than the parent's by
  more than the metric's bound;
- ``unresolved``: the spread of either side exceeds the bound, unless
  every change run beats every parent run;
- ``within_bound`` otherwise.

Exits non-zero when any metric is a regression.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import judge_pairs, quartiles  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def install_benchmark(checkout: str) -> None:
    """Copy this benchmark into a checkout, so both sides run the same
    benchmark code."""
    if os.path.realpath(checkout) == os.path.realpath(ROOT):
        return
    dst = os.path.join(checkout, "perfbench")
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(BENCH, dst, ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), os.path.join(checkout, "BENCHMARK.json"))


def run_side(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if proc.returncode != 0 or result is None or not result["correct"]:
        raise RuntimeError(f"{checkout} {workload} seed {seed} failed:\n{proc.stdout[-2000:]}"
                           f"\n{proc.stderr[-2000:]}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def judge(runs: dict, spec: dict) -> list[dict]:
    """One verdict per (workload, end-to-end metric)."""
    out = []
    for workload, pairs in runs.items():
        for metric in spec["end_to_end"]:
            name = metric["name"]
            values = [(p["parent"][name], p["change"][name]) for p in pairs]
            v = judge_pairs(values, metric["better"], metric["bound"])
            pq1, _, pq3 = quartiles([p for p, _ in values])
            cq1, _, cq3 = quartiles([c for _, c in values])
            out.append({
                "workload": workload, "metric": name, "status": v.status,
                "pairs": v.pairs, "wins": v.wins, "losses": v.losses,
                "parent": {"median": v.parent_median, "q1": pq1, "q3": pq3},
                "change": {"median": v.change_median, "q1": cq1, "q3": cq3},
                "bound": metric["bound"],
            })
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000)
    args = ap.parse_args(argv)
    spec = load_spec()

    for side in (args.parent, args.change):
        install_benchmark(side)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    runs = {w: [] for w in workloads}
    for w in workloads:
        for i in range(args.pairs):
            seed = args.seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pair = {}
            for side in order:
                checkout = args.parent if side == "parent" else args.change
                pair[side] = run_side(checkout, w, seed, spec["run_seconds"])
            runs[w].append(pair)
            print(f"{w} pair {i + 1}/{args.pairs} seed {seed} done", flush=True)

    verdicts = judge(runs, spec)
    print(f"{'workload':16s} {'metric':16s} {'status':13s} wins  parent median [q1,q3]"
          "        change median [q1,q3]")
    for v in verdicts:
        p, c = v["parent"], v["change"]
        print(f"{v['workload']:16s} {v['metric']:16s} {v['status']:13s} "
              f"{v['wins']:2d}/{v['pairs']:<2d} {p['median']:9.4f} [{p['q1']:.4f},{p['q3']:.4f}]"
              f"  {c['median']:9.4f} [{c['q1']:.4f},{c['q3']:.4f}]")
    return 1 if any(v["status"] == "regression" for v in verdicts) else 0


if __name__ == "__main__":
    raise SystemExit(main())
