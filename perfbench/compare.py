#!/usr/bin/env python3
"""Compare sets of benchmark runs against the bounds in BENCHMARK.json.

    python3 perfbench/compare.py RUNS.jsonl             # one set: spread check
    python3 perfbench/compare.py BASE.jsonl NEW.jsonl   # two sets: verdicts

A set is the JSON-lines file `run.py --record` (or sweep.py) appends to. For
each workload, one row per end-to-end metric gives the median and quartiles
(statistics.quantiles, n=4) of the untraced runs. With one set, the row shows
the spread - quartile distance over median - against the metric's bound;
with two sets it gives a verdict:

  improved   the new set wins at least 9 in 10 pairs and the medians differ
             by more than the base set's quartile distance (or, when a spread
             exceeds the bound, every new run beats every base run)
  worse      the new median is worse than the base median by more than the bound
  unresolved a spread exceeds the bound, so "no worse" cannot be claimed
  no worse   none of the above

Traced runs in a set add the per-workload tracing overhead to the report:
the traced runs' median operation time (trace.op_ms) over the untraced runs'.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def values(runs, metric):
    return [r["result"]["metrics"][metric]["value"] for r in runs
            if metric in r["result"]["metrics"]]


def summary(vals):
    med = statistics.median(vals)
    q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def verdict(base, new, better, bound, pairs):
    mb, q1b, q3b, sb = summary(base)
    mn, _, _, sn = summary(new)
    sign = 1 if better == "lower" else -1
    worse_by = sign * (mn - mb) / mb
    beats = lambda a, b: sign * (a - b) < 0
    if max(sb, sn) > bound:
        return "improved" if all(beats(n, b) for n in new for b in base) else "unresolved"
    if worse_by > bound:
        return "worse"
    wins = sum(1 for b, n in pairs if beats(n, b))
    if pairs and wins >= 0.9 * len(pairs) and abs(mn - mb) > q3b - q1b and worse_by < 0:
        return "improved"
    return "no worse"


def pair(base_runs, new_runs, metric):
    """Pairs by seed when both sets ran the same seeds, else by order."""
    bs = {r["seed"]: r for r in base_runs}
    ns = {r["seed"]: r for r in new_runs}
    if set(bs) == set(ns):
        keys = sorted(bs)
        base_runs, new_runs = [bs[k] for k in keys], [ns[k] for k in keys]
    return [(b["result"]["metrics"][metric]["value"], n["result"]["metrics"][metric]["value"])
            for b, n in zip(base_runs, new_runs)
            if metric in b["result"]["metrics"] and metric in n["result"]["metrics"]]


def fmt(s):
    med, q1, q3, spread = s
    return f"{med:.4g} [{q1:.4g}, {q3:.4g}]"


def report(spec, sets):
    ok = True
    for w in [w["name"] for w in spec["workloads"]]:
        untraced = [s.get((w, 0), []) for s in sets]
        if not all(untraced):
            print(f"{w}: no untraced runs in every set")
            ok = False
            continue
        failed = [sum(r["result"]["failed"] for r in u) for u in untraced]
        cells = []
        for m in spec["end_to_end"]:
            vals = [values(u, m["name"]) for u in untraced]
            if not all(vals):
                cells.append(f"{m['name']}: missing")
                ok = False
                continue
            if len(sets) == 1:
                s = summary(vals[0])
                flag = "ok" if s[3] <= m["bound"] else "OVER"
                ok &= flag == "ok"
                cells.append(f"{m['name']} {fmt(s)} {m['unit']} spread {s[3]:.3f}/"
                             f"{m['bound']} {flag}")
            else:
                v = verdict(vals[0], vals[1], m["better"], m["bound"],
                            pair(untraced[0], untraced[1], m["name"]))
                ok &= v != "worse"
                cells.append(f"{m['name']} {fmt(summary(vals[0]))} -> {fmt(summary(vals[1]))} "
                             f"{m['unit']}: {v}")
        # tracing overhead: traced runs' operation time over untraced runs'
        over = " | ".join(
            f"{statistics.median(t) / statistics.median(values(u, 'op_ms')):.3f}"
            if t and values(u, "op_ms") else "-"
            for t, u in zip([values(s.get((w, 1), []), "trace.op_ms") for s in sets], untraced))
        print(f"{w} (runs {'/'.join(str(len(u)) for u in untraced)}, failed "
              f"{'/'.join(map(str, failed))}, tracing overhead {over})")
        for c in cells:
            print("  " + c)
    return ok


def main(argv):
    if len(argv) not in (1, 2):
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.exit(0 if report(spec, [load(p) for p in argv]) else 1)


if __name__ == "__main__":
    main(sys.argv[1:])
