#!/usr/bin/env python3
"""Alternating graftbench pairs: parent checkout against change checkout.

    python3 tools/graftbench_pairs.py --parent DIR --change DIR \\
        --workload cog_write [cog_read dedup] --pairs 10 --seeds 1 2 3 \\
        [--seconds 8] [--claim throughput] [--out pairs.json]

For each workload W in turn, pair i runs `python3 graftbench/run.py
--workload W --seed S --seconds T --trace 0` once in each checkout, with
seed S = seeds[i % len(seeds)]. Even pairs run the parent first, odd
pairs the change first. Both checkouts build graftbench from their own
sources on first use.

For every end-to-end metric that BENCHMARK.json declares (read from the
change checkout), the report gives each side's median and quartiles,
the pairs the change won (ties count for neither side), and the rule
for claiming a gain: the change wins at least nine tenths of all pairs
run, and the medians differ, in the better direction, by more than the
parent's interquartile range. A run that exits non-zero, prints no JSON
line, or reports `correct: false` is a failed run. A failed run is never
entered as a number, and a pair with a failed side wins for neither.
Failed runs, and failed ops against attempted ops, are reported per
side. Each workload gets its own report, under "workloads". A claimed
gain is about the first workload; the others are there to show that
nothing else moved (see each metric's "worse_than_bound"). The last
line of standard output is the JSON report.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

DEFAULT_METRICS = [
    {"name": "throughput", "better": "higher", "bound": 0.25},
    {"name": "op_p50_ms", "better": "lower", "bound": 0.25},
    {"name": "setup_s", "better": "lower", "bound": 0.25},
]


def end_to_end(checkout):
    """End-to-end metrics (name, direction, bound) from BENCHMARK.json."""
    path = os.path.join(checkout, "BENCHMARK.json")
    if not os.path.exists(path):
        return DEFAULT_METRICS
    with open(path) as fh:
        return json.load(fh)["end_to_end"]


def run_once(checkout, workload, seed, seconds):
    """One graftbench run: its parsed JSON line, or None when it failed."""
    cmd = [sys.executable, os.path.join("graftbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    if r.returncode != 0:
        return None
    lines = [l for l in r.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        return None
    try:
        out = json.loads(lines[-1])
    except ValueError:
        return None
    return out if out.get("correct") is True else out | {"_failed": True}


def quartiles(xs):
    """(q1, median, q3), inclusive method; one value is its own quartiles."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(runs, metrics, pairs):
    """The report for one workload from `runs`: a list of
    {"pair", "seed", "parent", "change"} with each side's run output."""
    sides = {}
    for side in ("parent", "change"):
        outs = [r[side] for r in runs]
        ok = [o for o in outs if o is not None and not o.get("_failed")]
        sides[side] = {
            "runs": len(outs),
            "failed_runs": len(outs) - len(ok),
            "attempted_ops": sum(o.get("attempted", 0) for o in outs if o is not None),
            "failed_ops": sum(o.get("failed", 0) for o in outs if o is not None),
        }
    report = {"pairs": pairs, "sides": sides, "metrics": {}}
    for m in metrics:
        name, higher = m["name"], m["better"] == "higher"

        def value(out):
            if out is None or out.get("_failed"):
                return None
            v = out.get("metrics", {}).get(name, {}).get("value")
            return v if isinstance(v, (int, float)) else None

        per_side = {}
        for side in ("parent", "change"):
            xs = [v for v in (value(r[side]) for r in runs) if v is not None]
            if xs:
                q1, med, q3 = quartiles(xs)
                per_side[side] = {"n": len(xs), "median": med, "q1": q1, "q3": q3,
                                  "values": xs}
            else:
                per_side[side] = {"n": 0}
        wins = losses = 0
        for r in runs:
            a, b = value(r["parent"]), value(r["change"])
            if a is None or b is None or a == b:
                continue
            if (b > a) == higher:
                wins += 1
            else:
                losses += 1
        entry = {"better": m["better"], "parent": per_side["parent"],
                 "change": per_side["change"], "wins": wins, "losses": losses}
        if per_side["parent"]["n"] and per_side["change"]["n"]:
            p, c = per_side["parent"], per_side["change"]
            gap = (c["median"] - p["median"]) * (1 if higher else -1)
            iqr = p["q3"] - p["q1"]
            entry.update({
                "gap": gap,
                "relative_gap": gap / p["median"] if p["median"] else None,
                "parent_iqr": iqr,
                "gap_exceeds_parent_iqr": gap > iqr,
                "wins_nine_tenths": wins * 10 >= 9 * pairs,
                "gain": gap > iqr and wins * 10 >= 9 * pairs,
                "worse_than_bound": -gap > m.get("bound", float("inf")) * p["median"],
            })
        report["metrics"][name] = entry
    return report


def show(out):
    if out is None or out.get("_failed"):
        return "FAILED"
    return " ".join(f"{k}={v['value']:.4g}" for k, v in out.get("metrics", {}).items())


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True, nargs="+")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1])
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--claim", default=None,
                    help="the metric whose gain is claimed on the first workload; "
                         "the exit code is 1 unless it holds")
    ap.add_argument("--out", default=None)
    ns = ap.parse_args(argv)
    metrics = end_to_end(ns.change)
    reports = {}
    for workload in ns.workload:
        runs = []
        for i in range(ns.pairs):
            seed = ns.seeds[i % len(ns.seeds)]
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pair = {"pair": i, "seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run_once(getattr(ns, side), workload, seed, ns.seconds)
            runs.append(pair)
            print(f"{workload} pair {i + 1}/{ns.pairs} seed {seed} ({order[0]} first): "
                  f"parent {show(pair['parent'])} | change {show(pair['change'])}",
                  file=sys.stderr, flush=True)
        reports[workload] = summarize(runs, metrics, ns.pairs) | {"runs": runs}
    report = {"workloads": reports, "seeds": ns.seeds, "seconds": ns.seconds}
    if ns.out:
        with open(ns.out, "w") as fh:
            json.dump(report, fh, indent=1)
    print(json.dumps(report | {"workloads": {
        w: {k: v for k, v in r.items() if k != "runs"} for w, r in reports.items()}}))
    if ns.claim is not None:
        claimed = reports[ns.workload[0]]["metrics"].get(ns.claim, {})
        return 0 if claimed.get("gain") else 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
