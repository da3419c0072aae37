#!/usr/bin/env python3
"""Bench outlier adjudication — the automated version of the per-round
manual loop recorded in BASELINE.md "Bench adjudications".

Full-bench per-query readings swing 2-3x from co-located JVM load (the
~92 sibling queries, GC, JIT), so a reading far above its prior round is
a SUSPECT, not a verdict. The rule of record: fresh-JVM
`SPARK_GRAFT_ONLY=<q>` reruns on the same classes/config decide.

Usage:
  adjudicate_bench.py <prev_bench.json> <curr_bench.json> [out.json]
      [--threshold 2.5] [--floor 0.5] [--runs 3] [--sf-dir DIR] [--cpus 32]

Reads the two full-bench JSON records (the one-line format graft.Bench
prints and persists to target/bench_full.json), finds every query whose
current reading exceeds `threshold` x its previous reading AND the
`floor` in absolute seconds (sub-floor queries can triple on pure timer
noise), then for each outlier launches `runs` fresh JVMs running
graft.Bench with SPARK_GRAFT_ONLY pinned to that query, from the
compiled classes at target/scala-2.13/classes + /opt/spark/jars (the
same classpath sbt runs with). Emits the BENCH_r<k>_isolated.json array
format: per query the raw runs, the min, config/context strings, and a
mechanical verdict:

  cleared   - isolated min <= threshold x previous reading (the full-
              bench reading did not reproduce in isolation: load variance)
  regressed - isolated min stays above threshold x previous reading
              (the slowdown is real; find the code/fixture cause)

Two known limits of the plain isolated rerun, both fixed by
--baseline-classes <dir>:

  * a fresh JVM pays cold-JIT/staging (~0.5-1 s floor), so a sub-second
    query can read above threshold x its warm full-bench prior without
    any code change;
  * ambient machine load can drift minute-to-minute by more than the
    suspected signal, defeating sequential A-then-B comparisons.

--baseline-classes points at a compiled snapshot of the PRIOR round's
classes (e.g. a git worktree at the previous gate commit after
`sbt compile`). Each outlier then runs PAIRED ALTERNATION — baseline
JVM, current JVM, back-to-back, `runs` pairs — and the verdict compares
the two like-for-like isolated distributions (mean pairwise delta),
cancelling both the JVM floor and the drift.

Run `sbt compile` (or a full bench) first so the classes are current.
"""
import argparse, sys, json, os, subprocess, tempfile

ADD_OPENS_PKGS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def load_queries(path):
    with open(path) as f:
        rec = json.load(f)
    qs = rec.get("queries", rec)  # accept either the full record or a bare map
    return {k: float(v) for k, v in qs.items() if isinstance(v, (int, float))}


def isolated_run(query, sf_dir, cpus, repo_root):
    cp = os.path.join(repo_root, "target/scala-2.13/classes") + ":/opt/spark/jars/*"
    out = tempfile.NamedTemporaryFile(suffix=".json", delete=False).name
    cmd = ["java"]
    for p in ADD_OPENS_PKGS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Xmx8g", "-cp", cp, "graft.Bench"]
    env = dict(os.environ, SPARK_GRAFT_ONLY=query, SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_BENCH_OUT=out)
    r = subprocess.run(cmd, env=env, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(f"  isolated run of {query} FAILED:\n{r.stderr[-2000:]}\n")
        return None
    try:
        t = load_queries(out).get(query)
    finally:
        os.unlink(out)
    # graft.Bench records a query that threw as -1.0: a failure, never a time
    if t is None or t < 0:
        sys.stderr.write(f"  isolated run of {query} recorded no time ({t})\n")
        return None
    return t


def paired_adjudication(q, prev, curr, prev_path, curr_path, threshold,
                        baseline_repo, repo_root, sf_dir, cpus, pairs):
    """Alternate baseline-classes and current-classes fresh JVMs back-to-back
    so ambient drift and the cold-JVM floor cancel; judge on the pairwise
    delta of like-for-like isolated runs, not on the warm full-bench prior."""
    deltas, base_ts, cur_ts = [], [], []
    for i in range(pairs):
        a = isolated_run(q, sf_dir, cpus, baseline_repo)
        b = isolated_run(q, sf_dir, cpus, repo_root)
        print(f"  {q} pair {i + 1}/{pairs}: baseline "
              f"{'%.3f' % a if a is not None else 'ERR'} s, current "
              f"{'%.3f' % b if b is not None else 'ERR'} s")
        if a is not None and b is not None:
            base_ts.append(a); cur_ts.append(b); deltas.append(b - a)
    if not deltas:
        verdict = "error: all paired runs failed — see stderr"
    else:
        mean_a = sum(base_ts) / len(base_ts)
        mean_d = sum(deltas) / len(deltas)
        slower = sum(d > 0 for d in deltas)
        # systematic = slower in a clear majority of pairs AND by a margin
        # above like-for-like noise (15% of the baseline mean, 0.1 s min)
        if mean_d > max(0.15 * mean_a, 0.1) and slower * 3 >= len(deltas) * 2:
            verdict = (f"regressed: current classes run {mean_d:+.2f}s vs the "
                       f"baseline snapshot (slower in {slower}/{len(deltas)} "
                       f"pairs) — the slowdown is in the code, not the "
                       f"environment; bisect the commit range")
        else:
            verdict = (f"cleared: mean pairwise delta {mean_d:+.2f}s vs the "
                       f"baseline snapshot (slower in {slower}/{len(deltas)} "
                       f"pairs) — no systematic code slowdown; the "
                       f"{curr[q]:.2f}s full-bench reading (prior "
                       f"{prev[q]:.2f}s) was load variance")
    return {
        "query": q,
        "paired_runs_sec": [[round(a, 3), round(b, 3)]
                            for a, b in zip(base_ts, cur_ts)],
        "failed_pairs": f"{pairs - len(deltas)}/{pairs}",
        "mean_delta_sec": round(sum(deltas) / len(deltas), 3) if deltas else None,
        "config": (f"paired alternation, fresh JVM per run, SPARK_GRAFT_ONLY={q}, "
                   f"{sf_dir}, local[{cpus}], baseline classes {baseline_repo}, "
                   f"current classes {repo_root}"),
        "context": (f"prior full-bench {prev[q]:.3f}s ({prev_path}); current "
                    f"full-bench {curr[q]:.3f}s ({curr_path}); threshold "
                    f"{threshold}x"),
        "verdict": verdict,
    }


def main(argv):
    p = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("prev_path", help="previous round's full-bench JSON")
    p.add_argument("curr_path", help="current full-bench JSON")
    p.add_argument("out_path", nargs="?", default="BENCH_isolated.json")
    p.add_argument("--threshold", type=float, default=2.5)
    p.add_argument("--floor", type=float, default=0.5)
    p.add_argument("--runs", type=int, default=3)
    p.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    p.add_argument("--cpus", type=int, default=32)
    p.add_argument("--baseline-classes", default=None, metavar="DIR",
                   help="repo root (e.g. a worktree at the prior gate commit, "
                        "after `sbt compile`) whose classes serve as the paired-"
                        "alternation baseline; enables the drift-proof verdict")
    ns = p.parse_args(argv)
    prev_path, curr_path, out_path = ns.prev_path, ns.curr_path, ns.out_path
    threshold, floor, runs = ns.threshold, ns.floor, ns.runs
    sf_dir, cpus = ns.sf_dir, ns.cpus
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    prev, curr = load_queries(prev_path), load_queries(curr_path)
    outliers = sorted(
        q for q, t in curr.items()
        if t > floor and q in prev and prev[q] > 0 and t > threshold * prev[q])
    print(f"{len(outliers)} outlier(s) (> {threshold}x prior and > {floor}s): "
          f"{outliers or '-'}")

    results = []
    for q in outliers:
        if ns.baseline_classes:
            results.append(paired_adjudication(
                q, prev, curr, prev_path, curr_path, threshold,
                ns.baseline_classes, repo_root, sf_dir, cpus, runs))
            continue
        times = []
        for i in range(runs):
            t = isolated_run(q, sf_dir, cpus, repo_root)
            print(f"  {q} isolated run {i + 1}/{runs}: "
                  f"{'%.3f s' % t if t is not None else 'ERROR'}")
            if t is not None:
                times.append(t)
        if not times:
            verdict = "error: all isolated runs failed — see stderr"
        elif min(times) <= threshold * prev[q]:
            verdict = (f"cleared: isolated band {min(times):.2f}-{max(times):.2f}s "
                       f"does not reproduce the {curr[q]:.2f}s full-bench reading "
                       f"(prior {prev[q]:.2f}s) — co-located-load variance, not a "
                       f"code or fixture drift")
        else:
            verdict = (f"regressed: isolated min {min(times):.2f}s stays above "
                       f"{threshold}x the prior {prev[q]:.2f}s — the slowdown is "
                       f"real; bisect the code/fixture change")
        results.append({
            "query": q,
            "runs_sec": [round(t, 3) for t in times],
            "failed_runs": f"{runs - len(times)}/{runs}",
            "min_sec": round(min(times), 3) if times else None,
            "config": (f"fresh JVM per run, SPARK_GRAFT_ONLY={q}, {sf_dir}, "
                       f"local[{cpus}], min-of-2 per run"),
            "context": (f"prior full-bench {prev[q]:.3f}s ({prev_path}); current "
                        f"full-bench {curr[q]:.3f}s ({curr_path}); threshold "
                        f"{threshold}x, floor {floor}s"),
            "verdict": verdict,
        })

    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
        f.write("\n")
    print(f"wrote {out_path}")
    return 1 if any("regressed" in r["verdict"] or "error" in r["verdict"]
                    for r in results) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
