#!/usr/bin/env python3
"""Compare two self-bench artifacts per query (min-vs-min).

Usage: compare_bench.py OLD.json NEW.json [topN]

Each gate's wall-time ratio is also printed normalised by the median ratio
of the control gates (CONTROLS), which a change to the engine's operators
or formats leaves alone: on a host whose speed drifts, a normalised ratio
near 1 means the gate moved with the host. When both artifacts carry
`queries_counters` (the job census per gate), the jobs, tasks and
task-second deltas ride along, and the last line names every common gate
whose job count rose; the script exits 1 if any did.
"""
import json
import statistics
import sys

CONTROLS = ("qh01", "qh02", "qm01", "q05", "q15", "q29")


def load(p):
    d = json.load(open(p))
    return d


def main():
    old, new = load(sys.argv[1]), load(sys.argv[2])
    top = int(sys.argv[3]) if len(sys.argv) > 3 else 40
    qo, qn = old["queries_min"], new["queries_min"]
    common = sorted(set(qo) & set(qn))
    rows = [(k, qo[k], qn[k], qn[k] - qo[k]) for k in common
            if qo[k] > 0 and qn[k] > 0]
    rows.sort(key=lambda r: r[3])
    print(f"common={len(common)} old_total={sum(qo[k] for k in common):.1f}"
          f" new_total={sum(qn[k] for k in common):.1f}")
    ratios = sorted(qn[k] / qo[k] for k, o, n, d in rows)
    print(f"median ratio={ratios[len(ratios)//2]:.3f}")
    print("--- biggest improvements ---")
    for k, o, n, d in rows[:top]:
        print(f"{d:+7.2f}  {o:7.2f} -> {n:7.2f}  {k}")
    print("--- biggest regressions ---")
    for k, o, n, d in rows[-10:]:
        print(f"{d:+7.2f}  {o:7.2f} -> {n:7.2f}  {k}")

    controls = [n / o for k, o, n, d in rows if k.split("_")[0] in CONTROLS]
    co, cn = old.get("queries_counters"), new.get("queries_counters")
    base = statistics.median(controls) if controls else 1.0
    print(f"--- per gate: ratio normalised by the control median {base:.3f}"
          f" ({len(controls)} of {len(CONTROLS)} control gates) ---")
    counted = co is not None and cn is not None
    head = "  d_jobs  d_tasks  d_task_s" if counted else ""
    print(f"   norm   ratio{head}  gate")
    for k, o, n, d in sorted(rows, key=lambda r: r[2] / r[1]):
        line = f"{n / o / base:7.3f} {n / o:7.3f}"
        if counted:
            a, b = co.get(k), cn.get(k)
            if a and b:
                line += (f" {b['jobs'] - a['jobs']:+7d} {b['tasks'] - a['tasks']:+8d}"
                         f" {b['task_s'] - a['task_s']:+9.3f}")
            else:
                line += f" {'-':>7} {'-':>8} {'-':>9}"
        print(f"{line}  {k}")
    if counted:
        both = sorted(set(co) & set(cn))
        moved = [k for k in both
                 if any(co[k][f] != cn[k][f] for f in ("jobs", "stages", "tasks"))]
        print(f"--- counters: {len(both)} gates in both, jobs/stages/tasks differ in"
              f" {len(moved)} ---")
        for f in ("jobs", "stages", "tasks", "task_s"):
            print(f"total {f}: {sum(co[k][f] for k in both):.6g} ->"
                  f" {sum(cn[k][f] for k in both):.6g}")
        rose = [f"{k} {co[k]['jobs']}->{cn[k]['jobs']}" for k in both
                if cn[k]["jobs"] > co[k]["jobs"]]
        print(f"jobs rose in {len(rose)} of {len(both)} gates: {', '.join(rose) or 'none'}")
        return 1 if rose else 0
    print("jobs not compared: an artifact has no queries_counters")
    return 0


if __name__ == "__main__":
    sys.exit(main())
