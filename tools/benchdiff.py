#!/usr/bin/env python3
"""Round-over-round bench triage: diff two bench_full.json files and
classify every per-query wall-time delta as PLAN-SUSPECT or ambient.

Wall time moves with the machine; three per-query channels move only
with the plan, and serve as its fingerprints:
  - shuffle_mb: bytes written by the query's stages (a lost broadcast or
    partial-agg moves it);
  - cpu_sec: executor CPU time, read only for queries of at least 0.5 s
    cpu in either file (an extra scan or tokenize pass adds CPU with no
    shuffle, while an external hog inflates wall without touching it);
  - tasks: tasks the query's stages ran (a lost coalesce or a widened
    operator moves it).
A query whose wall moved while all three held moved with the machine.
Keys other than these (older artifacts carry more) are ignored.

Usage: python3 tools/benchdiff.py OLD.json NEW.json [--time-pct 30]
       [--shuffle-pct 10] [--cpu-pct 25] [--min-sec 0.3]

Exit 1 if any PLAN-SUSPECT rows exist (wall regressed beyond --time-pct
AND a fingerprint grew beyond its threshold), so it can gate CI.
"""
import argparse
import json
import sys

MIN_CPU_SEC = 0.5  # cpu_sec below this is too small to compare
TASKS_PCT = 10.0   # task-count growth beyond this marks a plan change


def grew(a, b, pct, floor):
    """b exceeds a by more than pct% of a and by more than floor."""
    return a is not None and b is not None and (b - a) > max(a * pct / 100.0, floor)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--time-pct", type=float, default=30.0,
                    help="flag if wall time grew more than this %%")
    ap.add_argument("--shuffle-pct", type=float, default=10.0,
                    help="shuffle growth beyond this %% marks a plan change")
    ap.add_argument("--cpu-pct", type=float, default=25.0,
                    help="cpu_sec growth beyond this %% marks a plan change "
                         "(ambient-immune: a hog can't inflate on-core time)")
    ap.add_argument("--min-sec", type=float, default=0.3,
                    help="ignore queries faster than this in BOTH rounds")
    a = ap.parse_args()

    with open(a.old) as f:
        old = json.load(f)
    with open(a.new) as f:
        new = json.load(f)
    oq, nq = old["queries"], new["queries"]
    osh, nsh = old.get("shuffle_mb", {}), new.get("shuffle_mb", {})
    ocpu, ncpu = old.get("cpu_sec", {}), new.get("cpu_sec", {})
    otk, ntk = old.get("tasks", {}), new.get("tasks", {})

    added = sorted(set(nq) - set(oq))
    removed = sorted(set(oq) - set(nq))
    suspects, ambient = [], []
    for name in sorted(set(oq) & set(nq)):
        t0, t1 = oq[name], nq[name]
        if max(t0, t1) < a.min_sec:
            continue
        dt_pct = (t1 - t0) / t0 * 100.0 if t0 > 0 else float("inf")
        s0, s1 = osh.get(name), nsh.get(name)
        c0, c1 = ocpu.get(name), ncpu.get(name)
        if c0 is not None and c1 is not None and max(c0, c1) < MIN_CPU_SEC:
            c0 = c1 = None
        k0, k1 = otk.get(name), ntk.get(name)
        plan_moved = (grew(s0, s1, a.shuffle_pct, 0.5)
                      or grew(c0, c1, a.cpu_pct, 0.2)
                      or grew(k0, k1, TASKS_PCT, 1))
        row = (name, t0, t1, dt_pct, s0, s1, c0, c1, k0, k1)
        if dt_pct > a.time_pct and plan_moved:
            suspects.append(row)
        elif abs(dt_pct) > a.time_pct:
            ambient.append(row)

    def show(rows, tag):
        for name, t0, t1, dt, s0, s1, c0, c1, k0, k1 in rows:
            sh = "" if s0 is None or s1 is None else f"  shuffle {s0:.2f} -> {s1:.2f} MB"
            cp = "" if c0 is None or c1 is None else f"  cpu {c0:.2f} -> {c1:.2f} s"
            tk = "" if k0 is None or k1 is None else f"  tasks {k0} -> {k1}"
            print(f"{tag} {name:32s} {t0:7.2f} -> {t1:7.2f} s "
                  f"({dt:+6.1f}%){sh}{cp}{tk}")

    print(f"total: {old['value']:.2f} -> {new['value']:.2f} s")
    if added:
        print("added:   " + ", ".join(added))
    if removed:
        print("removed: " + ", ".join(removed))
    show(suspects, "PLAN-SUSPECT")
    show(ambient, "ambient     ")
    if not suspects and not ambient:
        print("no per-query deltas beyond thresholds")
    return 1 if suspects else 0


if __name__ == "__main__":
    sys.exit(main())
