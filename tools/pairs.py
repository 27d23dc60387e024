#!/usr/bin/env python3
"""Alternating parent/change pairs of the repository benchmark.

Runs `perfbench/run.py` for one workload N times on a parent commit and N
times on the working tree, alternating which side goes first, and prints
each metric's median and quartiles per side and how many pairs the change
won. The parent is extracted with `git archive <ref>` into a scratch
directory (kept between invocations, so its compiled classes are reused);
the change is the working tree this script lives in, or `--change DIR`.
Nothing under `perfbench/` is modified.

    python3 tools/pairs.py --workload corpus_chain --pairs 10 --seed 901
    python3 tools/pairs.py --workload ann_serve --pairs 5 --seed 501 \\
        --parent HEAD~1 --out /tmp/ann_pairs.json

Pair i runs seed `--seed + i` on both sides; even pairs run the parent
first, odd pairs the change first. A metric's direction ("better":
"lower" or "higher") comes from BENCHMARK.json; metrics it does not list
count lower as better.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args):
    return subprocess.run(["git", "-C", ROOT] + list(args), check=True,
                          capture_output=True, text=True).stdout.strip()


def parent_tree(ref, scratch):
    """The directory holding `git archive <ref>`, extracted once."""
    sha = git("rev-parse", ref)
    d = scratch or os.path.join(tempfile.gettempdir(),
                                f"graft-pairs-{sha[:12]}")
    stamp = os.path.join(d, ".pairs-ref")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() != sha:
                sys.exit(f"{d} holds another commit; pass another --scratch")
    else:
        os.makedirs(d, exist_ok=True)
        archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha],
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", d], stdin=archive.stdout,
                       check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {sha} failed")
        with open(stamp, "w") as f:
            f.write(sha)
    return d, sha


def run_once(root, args, seed):
    """One benchmark run in `root`: (exit code, result dict or None)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace)]
    r = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    if result is None:
        sys.stderr.write(r.stdout[-2000:] + r.stderr[-2000:])
    return r.returncode, result


def directions():
    """metric name -> "lower" | "higher", from BENCHMARK.json."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        spec = json.load(f)
    return {m["name"]: m.get("better", "lower")
            for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--parent", default="HEAD",
                    help="git ref of the parent side (default HEAD)")
    ap.add_argument("--scratch", default=None,
                    help="directory for the parent's extracted tree")
    ap.add_argument("--change", default=ROOT,
                    help="tree of the change side (default: this one)")
    ap.add_argument("--out", default=None,
                    help="write every run's result here as JSON")
    args = ap.parse_args()

    parent, sha = parent_tree(args.parent, args.scratch)
    sides = {"parent": parent, "change": os.path.abspath(args.change)}
    runs = []
    for i in range(args.pairs):
        seed = args.seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"pair": i, "seed": seed}
        for side in order:
            code, res = run_once(sides[side], args, seed)
            pair[side] = {"exit": code, "result": res}
            m = (res or {}).get("metrics", {})
            print(f"pair {i} seed {seed} {side}: exit {code} "
                  f"wall_s {m.get('wall_s', {}).get('value')} "
                  f"op_p50_s {m.get('op_p50_s', {}).get('value')}",
                  flush=True)
        runs.append(pair)
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "parent": sha,
                       "runs": runs}, f, indent=1)

    better = directions()
    ok = [p for p in runs
          if all(p[s]["result"] is not None for s in sides)]
    for side in sides:
        failed = [(p["seed"], p[side]["exit"],
                   (p[side]["result"] or {}).get("failed"))
                  for p in runs
                  if p[side]["exit"] != 0 or p[side]["result"] is None or
                  p[side]["result"].get("failed")]
        print(f"{side}: {len(runs) - len(failed)}/{len(runs)} clean runs"
              + (f", not clean (seed, exit, failed ops): {failed}"
                 if failed else ""))
    if not ok:
        sys.exit("no pair produced results on both sides")
    names = sorted(set().union(*(p[s]["result"]["metrics"].keys()
                                 for p in ok for s in sides)))
    print(f"{len(ok)} pairs, parent {sha[:12]} vs {sides['change']}; "
          "median [q1, q3]")
    print(f"{'metric':40s} {'parent':>28s} {'change':>28s} "
          f"{'delta':>8s} {'wins':>6s}")
    for name in names:
        vals = {s: [p[s]["result"]["metrics"].get(name, {}).get("value")
                    for p in ok] for s in sides}
        if any(v is None for s in sides for v in vals[s]):
            continue
        lower = better.get(name, "lower") == "lower"
        wins = sum((c < p) if lower else (c > p)
                   for p, c in zip(vals["parent"], vals["change"]))
        cell = {}
        for s in sides:
            q1, q3 = quartiles(vals[s])
            cell[s] = (f"{statistics.median(vals[s]):.4g} "
                       f"[{q1:.4g}, {q3:.4g}]")
        mp = statistics.median(vals["parent"])
        mc = statistics.median(vals["change"])
        delta = f"{(mc - mp) / mp:+.1%}" if mp else "n/a"
        print(f"{name:40s} {cell['parent']:>28s} {cell['change']:>28s} "
              f"{delta:>8s} {wins:>3d}/{len(ok)}")


if __name__ == "__main__":
    main()
