#!/usr/bin/env python3
"""Context-probe analysis of a BENCH_FULL json: per-query GC ms, JIT
ms, code-cache occupancy and generated classes compiled in the kept
(min) round, joined with the per-query seconds — the in-run-context
adjudication tool (q274 watch). Probes written before the compile
count was recorded carry three values; their compile count prints
as "-".

Usage: bench_probes.py BENCH_FULL.json [query ...]
With no query names: prints the top rows by GC, by JIT and by
compiles, plus the code-cache trajectory and compile totals.
"""
import json
import sys


def main() -> None:
    d = json.load(open(sys.argv[1]))
    qs = d["queries"]
    probes = d.get("context_probes", {})
    names = sys.argv[2:]
    # [gc ms, jit ms, code-cache bytes(, classes compiled)]
    rows = [
        (k, qs.get(k), p[0], p[1], p[2], p[3] if len(p) > 3 else None)
        for k, p in probes.items()
    ]
    by_name = {r[0]: r for r in rows}

    def fmt(n):
        return "-" if n is None else str(n)

    if names:
        for k in names:
            if k in by_name:
                _, s, g, j, c, n = by_name[k]
                print(f"{k}: {s} s, gc={g} ms, jit={j} ms, "
                      f"codecache={c/1e6:.0f} MB, compiles={fmt(n)}")
            else:
                print(f"{k}: no probe")
        return
    print("== top 12 by GC ms ==")
    for k, s, g, j, c, n in sorted(rows, key=lambda r: -r[2])[:12]:
        print(f"  {k}: {s} s, gc={g} ms, jit={j} ms")
    print("== top 12 by JIT ms ==")
    for k, s, g, j, c, n in sorted(rows, key=lambda r: -r[3])[:12]:
        print(f"  {k}: {s} s, gc={g} ms, jit={j} ms")
    counted = [r for r in rows if r[5] is not None]
    if counted:
        print("== top 12 by classes compiled ==")
        for k, s, g, j, c, n in sorted(counted, key=lambda r: -r[5])[:12]:
            print(f"  {k}: {s} s, compiles={n}")
        print(f"== compiles: {sum(r[5] for r in counted)} over the kept "
              f"rounds; per timed pass "
              f"{d.get('compiles_per_pass', '-')} ==")
    ordered = [r[4] for r in rows]
    if ordered:
        print(f"== code cache: first={ordered[0]/1e6:.0f} MB "
              f"last={ordered[-1]/1e6:.0f} MB "
              f"max={max(ordered)/1e6:.0f} MB ==")


if __name__ == "__main__":
    main()
