#!/usr/bin/env python3
"""Compare two graft Bench JSON records on their common queries.

Usage: bench_compare.py OLD.json NEW.json [threshold]

Timed boards: prints total and per-query ratios (new/old), raw AND host-normalized when
both records carry the round-15 `control` block (normalized ratio =
raw ratio x new_host_factor / old_host_factor — i.e. each side scaled to
the pinned quiet host before comparing: a LOUD new host has factor < 1,
which shrinks its inflated raw times). Rows above `threshold`
(default 1.5) are listed; exit code 1 if any normalized row exceeds 2x.

`Bench jobs` out-files (rows carry `build_jobs`): prints, per common row,
every change in build_jobs, jobs, tasks and shuffle_mb, plus their totals;
exit code 1 if any row's jobs or build_jobs rose, or if a row of OLD is
missing from NEW (`Bench jobs` leaves out a query that throws).
"""
import json
import math
import sys


def load(path):
    with open(path) as f:
        txt = f.read().strip()
    # tolerate a log line prefix (sbt "[info] {...}")
    start = txt.find("{")
    return json.loads(txt[start:])


STRUCTURAL = ("build_jobs", "jobs", "tasks", "shuffle_mb")


def is_jobs_record(rec):
    return "queries" not in rec and bool(rec) and all(
        isinstance(v, dict) and "build_jobs" in v for v in rec.values())


def compare_jobs(old, new):
    common = sorted(set(old) & set(new))
    gone = sorted(set(old) - set(new))
    print(f"common rows: {len(common)}  "
          f"(+{len(set(new) - set(old))} new, -{len(gone)} gone)")
    for k in STRUCTURAL:
        a = sum(old[q][k] for q in common)
        b = sum(new[q][k] for q in common)
        print(f"total {k}: {a:g} -> {b:g}")
    rose = []
    for q in common:
        changes = [f"{k} {old[q][k]:g} -> {new[q][k]:g}"
                   for k in STRUCTURAL if old[q][k] != new[q][k]]
        if changes:
            print(f"  {q}: {', '.join(changes)}")
        if any(new[q][k] > old[q][k] for k in ("build_jobs", "jobs")):
            rose.append(q)
    if rose:
        print(f"jobs rose on: {', '.join(rose)}")
    if gone:
        print(f"missing from NEW: {', '.join(gone)}")
    return 1 if rose or gone else 0


def main():
    old, new = load(sys.argv[1]), load(sys.argv[2])
    if is_jobs_record(old) or is_jobs_record(new):
        if not (is_jobs_record(old) and is_jobs_record(new)):
            sys.exit("cannot compare a Bench jobs out-file with a timed board")
        sys.exit(compare_jobs(old, new))
    threshold = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    fo = old.get("control", {}).get("host_factor", 1.0)
    fn = new.get("control", {}).get("host_factor", 1.0)
    qo, qn = old["queries"], new["queries"]
    common = sorted(set(qo) & set(qn))
    only_old = sorted(set(qo) - set(qn))
    only_new = sorted(set(qn) - set(qo))
    to = sum(qo[q] for q in common)
    tn = sum(qn[q] for q in common)
    raw = tn / to if to else float("nan")
    norm = raw * fn / fo if fo else raw
    print(f"common rows: {len(common)}  (+{len(only_new)} new, -{len(only_old)} gone)")
    print(f"total: {to:.1f}s -> {tn:.1f}s  raw {raw:.3f}x  "
          f"normalized {norm:.3f}x  (host_factor {fo:.3f} -> {fn:.3f})")
    movers = []
    for q in common:
        if qo[q] <= 0:
            continue
        r = qn[q] / qo[q]
        rn = r * fn / fo if fo else r
        if rn >= threshold and qn[q] - qo[q] > 0.15:  # ignore sub-150ms jitter
            movers.append((rn, r, q, qo[q], qn[q]))
    movers.sort(reverse=True)
    for rn, r, q, a, b in movers:
        print(f"  {q}: {a:.2f}s -> {b:.2f}s  raw {r:.2f}x  norm {rn:.2f}x")
    if only_new:
        added = sum(qn[q] for q in only_new)
        print(f"new rows add {added:.1f}s: {', '.join(only_new)}")
    sys.exit(1 if any(rn > 2.0 for rn, *_ in movers) else 0)


if __name__ == "__main__":
    main()
