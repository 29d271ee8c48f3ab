#!/usr/bin/env python3
"""Compare two BENCH_LOCAL-style bench records query by query.

Reports the queries whose NEW wall-time min exceeds the OLD min by more
than the threshold factor (and is over 0.5 s). When both records carry
`queries_cpu` (the per-query min of process CPU seconds), each flagged
query is marked by whether its CPU min rose too: wall and CPU up means
the query does more work (likely a real regression); wall up with CPU
flat means the box was contended. Medians ride along so a first-run
spike (median moves, min doesn't) stays visible.

Usage: python3 tools/compare_bench.py OLD.json NEW.json [threshold=1.5]
NOT part of the shipped library (driver-side python only).
"""
import json, sys

# a CPU min counts as "up" above this ratio. Per-query CPU mins (min of
# 2 runs) differed by up to 1.3x between two quiet runs, and by at most
# 1.26x beside 4 busy processes, which moved wall mins 1.1-2.2x (sf0.1,
# 4-vCPU VM).
CPU_UP = 1.5

old = json.load(open(sys.argv[1]))
new = json.load(open(sys.argv[2]))
thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5

if "queries" not in old or "queries" not in new:
    sys.exit("ERROR: record without a 'queries' map (a BENCH_r0N.json "
             "round wrapper holds only a log tail — use BENCH_LOCAL-style "
             "records, e.g. `git show <sha>:BENCH_LOCAL.json`)")
qo, qn = old["queries"], new["queries"]
mo = old.get("queries_median", {})
mn = new.get("queries_median", {})
co, cn = old.get("queries_cpu"), new.get("queries_cpu")
if co is None or cn is None:
    print("WARNING: queries_cpu absent in one record "
          f"(old={co is not None}, new={cn is not None}); "
          "comparison is wall-only")

shared = sorted(set(qo) & set(qn))
print(f"{len(shared)} shared queries; new-only: "
      f"{sorted(set(qn) - set(qo)) or '-'}; dropped: "
      f"{sorted(set(qo) - set(qn)) or '-'}")

flagged = sorted((k for k in shared if qn[k] > thr * qo[k] and qn[k] > 0.5),
                 key=lambda k: -qn[k] / qo[k])
if not flagged:
    print(f"no query exceeds {thr}x its old min")
else:
    print(f"{'query':28s} {'old':>6s} {'new':>6s} {'oldmed':>7s} "
          f"{'newmed':>7s} {'oldcpu':>7s} {'newcpu':>7s}  note")
    for k in flagged:
        note, cpus = "", ("", "")
        if co is not None and cn is not None and k in co and k in cn:
            cpus = (f"{co[k]:.2f}", f"{cn[k]:.2f}")
            note = ("wall and CPU up -> likely real" if cn[k] > CPU_UP * co[k]
                    else "wall only -> contention")
        print(f"{k:28s} {qo[k]:6.2f} {qn[k]:6.2f} {mo.get(k, 0):7.2f} "
              f"{mn.get(k, 0):7.2f} {cpus[0]:>7s} {cpus[1]:>7s}  {note}")

print(f"total: old {old['value']:.1f}s vs new {new['value']:.1f}s "
      f"({new['value'] / old['value']:.2f}x, shared-surface only meaningful "
      "when query sets match)")
if "cpu_sec" in old and "cpu_sec" in new:
    print(f"cpu: old {old['cpu_sec']:.1f}s vs new {new['cpu_sec']:.1f}s "
          f"({new['cpu_sec'] / old['cpu_sec']:.2f}x)")
