#!/usr/bin/env python3
"""A/B one lakebench workload between two git revisions, in fresh checkouts.

    python3 scripts/ab_lakebench.py --base e3a06b1 --change HEAD \\
        --workload lakehouse --pairs 10 --seed 1 --seconds 10 --work /tmp/graft_ab

Each revision is exported with `git archive` into its own directory under
--work (named by its commit id, and reused by later invocations), so each
side builds its own engine jar, benchmark and class-data archive from its
own sources; nothing is shared between the sides or with the working tree.
A discarded warm-up run per side builds it and dumps its class-data archive.
Then the pairs run in alternating order (the base first in even pairs), pair
i with seed --seed + i on both sides.

For every metric of the result lines it prints both medians, both sides'
interquartile ranges and in how many pairs the change was better, by the
metric's direction in BENCHMARK.json. Each end-to-end metric also gets a
verdict against its bound in BENCHMARK.json:

    gain          the change won at least 9 in 10 pairs (ties count for
                  neither) and the medians differ, in the change's favour,
                  by more than the base's interquartile range;
    worse         the change's median is worse than the base's by more
                  than the bound (a fraction of the base's median);
    unresolved    either side's interquartile range, as a fraction of its
                  median, is wider than the bound, and not every change
                  run is better than every base run;
    within bound  anything else.

Every result line is appended to <work>/results.jsonl. To measure
uncommitted work, stage it with `git add` and pass
`--change $(git stash create)`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args):
    return subprocess.run(["git", *args], cwd=ROOT, check=True, capture_output=True,
                          text=True).stdout.strip()


def checkout(rev, work):
    """The directory holding `rev`'s files, exported on first use."""
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}")
    d = os.path.join(work, sha[:12])
    if not os.path.isdir(d):
        tmp = d + ".partial"
        subprocess.run(["rm", "-rf", tmp], check=True)
        os.makedirs(tmp)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tmp], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"[ab] git archive {sha} failed")
        os.rename(tmp, d)
    return sha[:12], d


def run(d, workload, seed, seconds, trace):
    """One lakebench run in checkout `d`: its parsed result line."""
    cmd = [sys.executable, "lakebench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=d, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        sys.exit(f"[ab] {' '.join(cmd)} in {d} exited with {p.returncode}")
    return json.loads(lines[-1])


def spec():
    """BENCHMARK.json's metrics: ({name: better}, {end-to-end name: bound})."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        s = json.load(fh)
    e2e = s.get("end_to_end", [])
    return ({m["name"]: m["better"] for m in e2e + s.get("per_layer", [])},
            {m["name"]: m["bound"] for m in e2e})


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--base", required=True, help="git revision of the parent")
    ap.add_argument("--change", required=True, help="git revision of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True, help="directory for the checkouts and results")
    a = ap.parse_args()
    os.makedirs(a.work, exist_ok=True)
    sides = {"base": checkout(a.base, a.work), "change": checkout(a.change, a.work)}
    for name, (sha, d) in sides.items():
        print(f"[ab] {name} {sha} in {d}: warm-up run", file=sys.stderr, flush=True)
        run(d, a.workload, a.seed, a.seconds, 0)
    results = {"base": [], "change": []}
    log = os.path.join(a.work, "results.jsonl")
    for i in range(a.pairs):
        seed = a.seed + i
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for name in order:
            r = run(sides[name][1], a.workload, seed, a.seconds, a.trace)
            results[name].append(r)
            with open(log, "a") as fh:
                fh.write(json.dumps({"side": name, "rev": sides[name][0], "workload": a.workload,
                                     "seed": seed, "seconds": a.seconds, "trace": a.trace,
                                     "result": r}) + "\n")
        print(f"[ab] pair {i + 1}/{a.pairs} (seed {seed}) done", file=sys.stderr, flush=True)
    report(results, *spec(), a)


def report(results, better, bounds, a):
    base, change = results["base"], results["change"]
    print(f"workload={a.workload} pairs={a.pairs} seeds={a.seed}..{a.seed + a.pairs - 1} "
          f"seconds={a.seconds} trace={a.trace}")
    print(f"failed runs: base {sum(r['failed'] > 0 for r in base)}, "
          f"change {sum(r['failed'] > 0 for r in change)}")
    print(f"{'metric':48} {'base':>12} {'change':>12} {'delta':>8} {'base IQR':>10} "
          f"{'change IQR':>10} {'wins':>6}  verdict")
    for m in sorted(base[0]["metrics"]):
        b = [r["metrics"][m]["value"] for r in base]
        c = [r["metrics"][m]["value"] for r in change]
        mb, mc = statistics.median(b), statistics.median(c)
        way = better.get(m)
        wins = "-" if way is None else str(sum(improved(x, y, way) for x, y in zip(b, c)))
        delta = f"{(mc - mb) / mb:+.1%}" if mb else "-"
        v = verdict(b, c, way, bounds[m]) if m in bounds and way else ""
        print(f"{m:48} {mb:12.4g} {mc:12.4g} {delta:>8} {iqr(b):10.4g} {iqr(c):10.4g} {wins:>6}  {v}")


def verdict(b, c, way, bound):
    """The end-to-end verdict on base runs `b` and change runs `c` (paired by
    index) for a metric whose better direction is `way`, with its bound."""
    sign = 1 if way == "higher" else -1
    mb, mc = statistics.median(b), statistics.median(c)
    if sum(improved(x, y, way) for x, y in zip(b, c)) >= 0.9 * len(b) and sign * (mc - mb) > iqr(b):
        return "gain"
    if mb and sign * (mb - mc) / abs(mb) > bound:
        return "worse"
    spread = max(iqr(xs) / abs(med) if med else 0.0 for xs, med in ((b, mb), (c, mc)))
    if spread > bound and not all(improved(x, y, way) for x in b for y in c):
        return "unresolved"
    return "within bound"


def improved(x, y, way):
    """Whether the change's value `y` is better than the base's `x`."""
    return y < x if way == "lower" else y > x


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


if __name__ == "__main__":
    main()
