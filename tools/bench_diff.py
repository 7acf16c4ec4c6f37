#!/usr/bin/env python3
"""Per-query diff of two graft bench artifacts (round-16 verdict item:
the 100+ non-headline queries get a committed full-run artifact per
round, and this diff is the gate that catches a plan regression on any
of them — the same 1.3x/0.25s rule the headline rounds apply by hand).

Usage: bench_diff.py OLD.json NEW.json [ratio_gate [abs_floor_sec]]
       bench_diff.py --ledger OLD.json NEW.json

Reads the "queries" min-map of each artifact (falling back to the
file's single JSON line), prints every query whose NEW min exceeds
ratio_gate x OLD (default 1.3) AND by more than abs_floor_sec (default
0.25 s — host jitter on sub-second lines is not a regression), plus
adds/removes. Exit 1 if any regression printed, 0 otherwise.

--ledger compares two `graft.Profile` ledgers (JSON Lines, one object
per query, e.g. LEDGER.json) query by query on the deterministic
counters: `jobs`, `stages` and `compilations` of the build and the
action half. It prints every increase, every decrease and every query
that fails or is missing on one side; exit 1 if any counter increased
or a query that ran in OLD failed or is missing in NEW.
"""
import json
import sys


def load(path):
    with open(path) as f:
        txt = f.read().strip()
    # artifact may carry min+p50 maps or the compact min-only map
    obj = json.loads(txt.splitlines()[-1])
    qs = obj.get("queries", {})
    # full-precision artifacts store {"name": {"min": x, "p50": y}}
    out = {}
    for k, v in qs.items():
        out[k] = v["min"] if isinstance(v, dict) else float(v)
    return out


LEDGER_COUNTERS = ("jobs", "stages", "compilations")


def load_ledger(path):
    """query -> its Profile line; the summing "total" line is skipped."""
    out = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith("{"):
                obj = json.loads(line)
                if "query" in obj:
                    out[obj["query"]] = obj
    return out


def diff_ledgers(old, new):
    """Prints the counter changes; returns the number of regressions."""
    bad = 0
    totals = {}
    for q in sorted(set(old) | set(new)):
        o, n = old.get(q), new.get(q)
        o_ok = o is not None and not o.get("failed")
        n_ok = n is not None and not n.get("failed")
        if not n_ok:
            print(f"[{'gone ' if n is None else 'FAIL '}] {q}")
            if o_ok:
                bad += 1
            continue
        if not o_ok:
            print(f"[new  ] {q}")
            continue
        for half in ("build", "action"):
            for c in LEDGER_COUNTERS:
                a, b = o[half][c], n[half][c]
                t = totals.setdefault(f"{half}.{c}", [0, 0])
                t[0] += a
                t[1] += b
                if b > a:
                    print(f"[MORE ] {q} {half}.{c}: {a} -> {b}")
                    bad += 1
                elif b < a:
                    print(f"[fewer] {q} {half}.{c}: {a} -> {b}")
    summary = ", ".join(f"{k} {a} -> {b}" for k, (a, b) in sorted(totals.items()))
    print(f"== {summary}; {bad} regression(s) ==")
    return bad


def main():
    if sys.argv[1] == "--ledger":
        sys.exit(1 if diff_ledgers(load_ledger(sys.argv[2]), load_ledger(sys.argv[3])) else 0)
    old, new = load(sys.argv[1]), load(sys.argv[2])
    gate = float(sys.argv[3]) if len(sys.argv) > 3 else 1.3
    floor = float(sys.argv[4]) if len(sys.argv) > 4 else 0.25
    bad = 0
    for q in sorted(set(old) | set(new)):
        if q not in new:
            print(f"[gone ] {q}: was {old[q]:.2f}s")
        elif q not in old:
            print(f"[new  ] {q}: {new[q]:.2f}s")
        elif new[q] > old[q] * gate and new[q] - old[q] > floor:
            print(f"[SLOW ] {q}: {old[q]:.2f}s -> {new[q]:.2f}s "
                  f"({new[q] / max(old[q], 1e-9):.2f}x)")
            bad += 1
        elif old[q] > new[q] * gate and old[q] - new[q] > floor:
            print(f"[fast ] {q}: {old[q]:.2f}s -> {new[q]:.2f}s")
    tot_old = sum(old.values())
    tot_new = sum(new.values())
    print(f"== totals: {tot_old:.1f}s -> {tot_new:.1f}s over "
          f"{len(old)}/{len(new)} queries; {bad} regression(s) ==")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
