#!/usr/bin/env python3
"""A/B of two checkouts on the repository's benchmark, in alternating pairs.

    python bench/ab.py --base ../parent --change . --pairs 10 \
        [--seed 1000] [--trace 0] [--out ab.jsonl]
    python bench/ab.py --summary ab.jsonl

Pair ``i`` runs ``perfbench/run.py`` of each checkout, unchanged and from
that checkout's root, once per workload on seed ``--seed + i``: the base
first in even pairs, the change first in odd ones. The workloads and the
run length are the ones the BENCHMARK.json of this script's checkout
fixes. Every run's result line is appended to ``--out`` as it lands, so
an interrupted A/B keeps its runs, and ``--summary`` prints the table of
a file of runs again.

The table has one row per workload and metric: each side's median and
quartiles over its runs, the pairs the change won and lost (ties count
for neither; "better" is the metric's direction in BENCHMARK.json), and
each side's failed operations, runs that failed the output gate
(``correct`` false) and runs that ended without a result. A run that
failed the gate or ended without a result counts in no median and no
pair. ``--help`` starts nothing.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

SIDES = ("base", "change")
ROOT = Path(__file__).resolve().parent.parent


def quartiles(values: list) -> tuple:
    """(q1, median, q3), by the method of ``perfbench/record.py``'s
    spread; one value is all three."""
    if len(values) < 2:
        return (values[0],) * 3
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def summarize(runs: list, better: dict) -> list:
    """One row per (workload, metric) from result records
    ``{"workload", "pair", "seed", "side", "failed", "correct",
    "metrics": {name: value}}``: each side's quartiles, the pairs the
    change won and lost, and each side's failed operations, incorrect
    runs and runs without a result (``failed`` None). ``better`` maps a
    metric to "higher" or "lower"; a metric without it counts no pairs.
    Raises ValueError on two runs of one side, workload, pair and
    seed."""
    by = {}
    for r in runs:
        pair = by.setdefault(r["workload"], {}).setdefault(
            (r["pair"], r["seed"]), {})
        if r["side"] in pair:
            raise ValueError(
                f"two {r['side']} runs of {r['workload']} in pair "
                f"{r['pair']}, seed {r['seed']}")
        pair[r["side"]] = r
    rows = []
    for workload, pairs in by.items():
        ok = [{s: r for s, r in p.items()
               if r["failed"] is not None and r["correct"]}
              for p in pairs.values()]
        names = sorted({m for p in ok for r in p.values()
                        for m in r["metrics"]})
        for name in names:
            sign = {"higher": 1, "lower": -1}.get(better.get(name), 0)
            both = [p for p in ok
                    if all(s in p and name in p[s]["metrics"]
                           for s in SIDES)]
            diffs = [sign * (p["change"]["metrics"][name]
                             - p["base"]["metrics"][name]) for p in both]
            row = {"workload": workload, "metric": name,
                   "pairs": len(both),
                   "won": sum(d > 0 for d in diffs),
                   "lost": sum(d < 0 for d in diffs)}
            for s in SIDES:
                vals = [p[s]["metrics"][name] for p in ok
                        if s in p and name in p[s]["metrics"]]
                mine = [p[s] for p in pairs.values() if s in p]
                row[s] = quartiles(vals) if vals else None
                row[f"{s}_failed"] = sum(r["failed"] or 0 for r in mine)
                row[f"{s}_incorrect"] = sum(
                    r["failed"] is not None and not r["correct"]
                    for r in mine)
                row[f"{s}_errors"] = sum(r["failed"] is None for r in mine)
            rows.append(row)
    return rows


def format_rows(rows: list) -> str:
    def q(v):
        return "-" if v is None else \
            f"{v[1]:.6g} [{v[0]:.6g}, {v[2]:.6g}]"
    head = ("workload", "metric", "base median [q1, q3]",
            "change median [q1, q3]", "won/lost of pairs",
            "failed,incorrect,errors b|c")
    lines = ["\t".join(head)]
    for r in rows:
        lines.append("\t".join((
            r["workload"], r["metric"], q(r["base"]), q(r["change"]),
            f"{r['won']}/{r['lost']} of {r['pairs']}",
            "|".join(f"{r[s + '_failed']},{r[s + '_incorrect']},"
                     f"{r[s + '_errors']}" for s in SIDES))))
    return "\n".join(lines)


def benchmark() -> dict:
    """This checkout's BENCHMARK.json."""
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def directions(spec: dict) -> dict:
    """Each metric's "better" direction."""
    return {m["name"]: m["better"]
            for m in spec["end_to_end"] + spec["per_layer"]}


def run_one(checkout: Path, workload: str, seed: int, seconds: float,
            trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True)
    if proc.returncode != 0 or not proc.stdout.strip():
        return {"failed": None, "correct": False, "metrics": {},
                "error": proc.returncode}
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    return {"failed": line["failed"], "correct": line["correct"],
            "metrics": {k: v["value"] for k, v in line["metrics"].items()}}


def read_runs(path: Path) -> list:
    return [json.loads(x) for x in path.read_text().splitlines() if x]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0],
        formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--base", type=Path, help="parent checkout")
    ap.add_argument("--change", type=Path, help="changed checkout")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000,
                    help="seed of pair 0; pair i runs seed + i")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", type=Path, help="JSON lines of every run")
    ap.add_argument("--summary", type=Path,
                    help="print the table of a file of runs and exit")
    args = ap.parse_args(argv)
    spec = benchmark()
    if args.summary:
        print(format_rows(summarize(read_runs(args.summary),
                                    directions(spec))))
        return 0
    if args.base is None or args.change is None:
        ap.error("--base and --change are required")
    checkouts = {"base": args.base.resolve(),
                 "change": args.change.resolve()}
    runs = []
    for i in range(args.pairs):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        for workload in (w["name"] for w in spec["workloads"]):
            for side in order:
                r = run_one(checkouts[side], workload, args.seed + i,
                            spec["run_seconds"], args.trace)
                r.update(workload=workload, pair=i, side=side,
                         seed=args.seed + i)
                runs.append(r)
                if args.out:
                    with open(args.out, "a") as f:
                        f.write(json.dumps(r) + "\n")
                print(json.dumps(r), file=sys.stderr, flush=True)
    print(format_rows(summarize(runs, directions(spec))))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
