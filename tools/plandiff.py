#!/usr/bin/env python3
"""Diff two PlanDump fingerprint files (PLANS_r{N}.json).

Usage: python3 tools/plandiff.py PLANS_r11.json PLANS_r12.json

Prints, per query whose plan shape changed, the operator-count delta —
the round-over-round attribution tool for bench regressions: a perf
delta with a plan diff has a named cause; one without is environment.

Exit status: 0 when no query's plan is CHANGED or REMOVED (NEW queries
alone are fine), 1 otherwise — so a refactor's "fingerprints unchanged"
proof can gate on it — and 2 on bad usage.
"""
import json
import sys


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    a = json.load(open(sys.argv[1]))
    b = json.load(open(sys.argv[2]))
    added = sorted(set(b) - set(a))
    removed = sorted(set(a) - set(b))
    changed = []
    for q in sorted(set(a) & set(b)):
        if a[q] != b[q]:
            ops = sorted(set(a[q]) | set(b[q]))
            delta = {op: (a[q].get(op, 0), b[q].get(op, 0))
                     for op in ops if a[q].get(op, 0) != b[q].get(op, 0)}
            changed.append((q, delta))
    if added:
        print(f"NEW ({len(added)}): {', '.join(added)}")
    if removed:
        print(f"REMOVED ({len(removed)}): {', '.join(removed)}")
    if changed:
        print(f"CHANGED ({len(changed)}):")
        for q, delta in changed:
            ds = ", ".join(f"{op} {x}->{y}" for op, (x, y) in sorted(delta.items()))
            print(f"  {q}: {ds}")
    if not (added or removed or changed):
        print("IDENTICAL plan shapes")
    return 1 if (removed or changed) else 0


if __name__ == "__main__":
    sys.exit(main())
