#!/usr/bin/env python3
"""Paired-alternation measurement for OPTIMIZATION claims (guide §1).

adjudicate_bench.py's paired mode only fires on REGRESSION outliers;
this wrapper runs the same baseline-JVM/current-JVM alternation for an
explicit query list so an improvement claim gets the identical
drift-proof treatment: fresh JVM per run, SPARK_GRAFT_ONLY pinned,
baseline classes from a worktree at the prior gate commit.

Usage:
  paired_bench.py --baseline-classes /root/wt_r21_gate \
      [--pairs 4] [--sf-dir /root/testdata/sf0.1] [--cpus 32] \
      [--out out.json] q_a q_b ...

Emits per query: the paired runs, mean baseline/current, mean pairwise
delta, and faster-in-k/n — the noise-robust signal the r21 verdict
adopted as the standard of evidence.
"""
import argparse, json, os, sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from adjudicate_bench import isolated_run  # noqa: E402


def main(argv):
    p = argparse.ArgumentParser()
    p.add_argument("queries", nargs="+")
    p.add_argument("--baseline-classes", required=True)
    p.add_argument("--pairs", type=int, default=4)
    p.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    p.add_argument("--cpus", type=int, default=32)
    p.add_argument("--out", default=None)
    ns = p.parse_args(argv)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    results = []
    for q in ns.queries:
        base_ts, cur_ts = [], []
        for i in range(ns.pairs):
            a = isolated_run(q, ns.sf_dir, ns.cpus, ns.baseline_classes)
            b = isolated_run(q, ns.sf_dir, ns.cpus, repo_root)
            print(f"  {q} pair {i + 1}/{ns.pairs}: baseline "
                  f"{'%.3f' % a if a is not None else 'ERR'} s, current "
                  f"{'%.3f' % b if b is not None else 'ERR'} s", flush=True)
            if a is not None and b is not None:
                base_ts.append(a)
                cur_ts.append(b)
        failed = f"{ns.pairs - len(base_ts)}/{ns.pairs}"
        if not base_ts:
            results.append({"query": q, "failed_pairs": failed,
                            "verdict": "error: all runs failed"})
            continue
        deltas = [b - a for a, b in zip(base_ts, cur_ts)]
        faster = sum(d < 0 for d in deltas)
        mean_a = sum(base_ts) / len(base_ts)
        mean_b = sum(cur_ts) / len(cur_ts)
        results.append({
            "query": q,
            "paired_runs_sec": [[round(a, 3), round(b, 3)]
                                for a, b in zip(base_ts, cur_ts)],
            "mean_baseline_sec": round(mean_a, 3),
            "mean_current_sec": round(mean_b, 3),
            "mean_delta_sec": round(mean_b - mean_a, 3),
            "faster_pairs": f"{faster}/{len(deltas)}",
            "failed_pairs": failed,
            "config": (f"paired alternation, fresh JVM per run, "
                       f"SPARK_GRAFT_ONLY={q}, {ns.sf_dir}, local[{ns.cpus}], "
                       f"baseline classes {ns.baseline_classes}, current "
                       f"classes {repo_root}"),
        })
        print(f"  => {q}: {mean_a:.3f} -> {mean_b:.3f} s "
              f"(delta {mean_b - mean_a:+.3f}, faster {faster}/{len(deltas)}, "
              f"failed pairs {failed})",
              flush=True)
    if ns.out:
        with open(ns.out, "w") as f:
            json.dump(results, f, indent=1)
    print(json.dumps(results, indent=1)[:2000])


if __name__ == "__main__":
    main(sys.argv[1:])
