#!/usr/bin/env python3
"""Core-scaling evidence (r21 verdict item 9): the sf0.1 bench is
overhead-dominated (sub-second queries), so the driver's 8-vs-32-core
probe reads flat. This runs the heaviest DATA-SCALING queries against a
10x linear workload (graft.ScaleEvidence replica — word-shuffled
copies, shifted key ranges, dims unchanged) at 32 and 8 cores,
ALTERNATING fresh JVMs so ambient drift cancels, and records the
per-query core ratio. A ratio well above 1 proves the operator
parallelizes where the sf0.1 bench cannot show it.

Usage: core_scaling.py --sf-dir /tmp/graft_sfx10 [--runs 2]
       [--out OUT.json] q_a q_b ...
"""
import argparse, json, os, sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from adjudicate_bench import isolated_run  # noqa: E402


def main(argv):
    p = argparse.ArgumentParser()
    p.add_argument("queries", nargs="+")
    p.add_argument("--sf-dir", default="/tmp/graft_sfx10")
    p.add_argument("--runs", type=int, default=2)
    p.add_argument("--out", default=None)
    ns = p.parse_args(argv)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    results = []
    for q in ns.queries:
        t32, t8 = [], []
        for i in range(ns.runs):
            a = isolated_run(q, ns.sf_dir, 32, repo_root)
            b = isolated_run(q, ns.sf_dir, 8, repo_root)
            print(f"  {q} run {i + 1}/{ns.runs}: 32c "
                  f"{'%.3f' % a if a is not None else 'ERR'} s, 8c "
                  f"{'%.3f' % b if b is not None else 'ERR'} s", flush=True)
            if a is not None:
                t32.append(a)
            if b is not None:
                t8.append(b)
        rec = {
            "query": q,
            "runs_32c_sec": [round(t, 3) for t in t32],
            "runs_8c_sec": [round(t, 3) for t in t8],
            "min_32c": round(min(t32), 3) if t32 else None,
            "min_8c": round(min(t8), 3) if t8 else None,
            "ratio_8c_over_32c": (round(min(t8) / min(t32), 2)
                                  if t32 and t8 else None),
            "failed_32c": f"{ns.runs - len(t32)}/{ns.runs}",
            "failed_8c": f"{ns.runs - len(t8)}/{ns.runs}",
            "config": (f"fresh JVM per run, alternating 32c/8c, "
                       f"SPARK_GRAFT_ONLY={q}, {ns.sf_dir} (10x linear "
                       f"workload via graft.ScaleEvidence), min-of-2 per "
                       f"run inside Bench"),
        }
        results.append(rec)
        print(f"  => {q}: 32c {rec['min_32c']} s, 8c {rec['min_8c']} s, "
              f"ratio {rec['ratio_8c_over_32c']} (failed 32c "
              f"{rec['failed_32c']}, 8c {rec['failed_8c']})", flush=True)
    if ns.out:
        with open(ns.out, "w") as f:
            json.dump(results, f, indent=1)
    print(json.dumps(results, indent=1)[:1500])


if __name__ == "__main__":
    main(sys.argv[1:])
