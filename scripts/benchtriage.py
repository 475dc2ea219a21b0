#!/usr/bin/env python3
"""Per-rep bench triage: separate host noise from real regressions.

Usage: python3 scripts/benchtriage.py <bench_reps.json> [<prior.json>]

  <bench_reps.json>  this round's per-rep file (written by graft.Bench
                     next to the compact stdout line): {"reps": {query:
                     [sec,...]}, "triage": {...}, "sf": ...}
  <prior.json>       optional prior round's file for cross-round
                     comparison — either another bench_reps.json or a
                     driver BENCH_r{N}.json whose "parsed" (or top level)
                     holds a {"queries": {query: min_sec}} map.
                     Both files must have timed the same action: Bench
                     times the noop sink ("action": "noop"); files with
                     no "action" field (BENCH_r01-r22, older
                     bench_reps.json) timed count(), and the script
                     refuses to compare across the two.

Classification per query:
  quiet      reps within 1.3x of each other (trustworthy timing)
  contended  reps spread >1.3x — host noise inflated some reps; the
             round-robin min is still faithful
  failed     a rep recorded -1 (query threw)
  subms      min rounds to 0.000 — spread unmeasurable at 3-decimal
             precision; prior-ratio compares the max instead
  regressed  (with prior) min grew >1.3x vs the prior min
  improved   (with prior) min shrank below 0.77x of the prior min

Prints a table and one machine-readable JSON line (TRIAGE {...}).
"""
import json
import sys


def action_of(d):
    """The timed action behind a bench file. A BENCH_r{N}.json keeps
    only Bench's stdout tail, which ends with the detail line's "action"
    key; a file with no "action" at all predates the noop sink and timed
    count()."""
    if "action" in d:
        return d["action"]
    return "noop" if '"action":"noop"' in d.get("tail", "") else "count"


def load_json(path):
    with open(path) as f:
        return json.load(f)


def prior_mins(d):
    """Accept a bench_reps.json (min over reps) or a BENCH_r{N}.json
    ({"parsed": {"queries": ...}} or {"queries": ...})."""
    if "reps" in d:
        return {q: min(v for v in reps if v >= 0)
                for q, reps in d["reps"].items()
                if any(v >= 0 for v in reps)}
    queries = (d.get("parsed") or d).get("queries") or {}
    return {q: v for q, v in queries.items() if isinstance(v, (int, float)) and v >= 0}


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    cur = load_json(sys.argv[1])
    reps, sf = cur.get("reps", {}), cur.get("sf", "?")
    prior = {}
    if len(sys.argv) > 2:
        old = load_json(sys.argv[2])
        if action_of(old) != action_of(cur):
            sys.exit(f"benchtriage: {sys.argv[2]} timed {action_of(old)} but "
                     f"{sys.argv[1]} timed {action_of(cur)}; their mins are not comparable")
        prior = prior_mins(old)

    out = {}
    for q in sorted(reps):
        v = reps[q]
        ok = [x for x in v if x >= 0]
        if len(ok) < len(v) or not ok:
            out[q] = {"class": "failed", "reps": v}
            continue
        mn, mx = min(ok), max(ok)
        # mn == 0: sub-millisecond reps at 3-decimal precision — spread is
        # unmeasurable, so give it its own class instead of defaulting to
        # "quiet", and compare on max for the prior-ratio check below.
        if mn == 0:
            cls = "subms"
        else:
            cls = "contended" if mx / mn > 1.3 else "quiet"
        entry = {"class": cls, "min": mn, "max": mx}
        if q in prior and prior[q] > 0:
            ratio = (mn if mn > 0 else mx) / prior[q]
            entry["prior_min"] = prior[q]
            entry["ratio"] = round(ratio, 3)
            if ratio > 1.3:
                entry["class"] = "regressed"
            elif ratio < 0.77:
                entry["class"] = "improved"
        out[q] = entry

    width = max(len(q) for q in out) if out else 8
    for q, e in sorted(out.items(), key=lambda kv: (kv[1]["class"], kv[0])):
        extra = f"  vs prior {e['prior_min']:.3f} (x{e['ratio']})" if "ratio" in e else ""
        mn = e.get("min")
        mn_s = f"{mn:.3f}s" if isinstance(mn, float) else "-"
        print(f"{q:<{width}}  {e['class']:<9}  {mn_s}{extra}")
    counts = {}
    for e in out.values():
        counts[e["class"]] = counts.get(e["class"], 0) + 1
    print(f"\nTRIAGE {json.dumps({'sf': sf, 'counts': counts, 'queries': out})}")
    if counts.get("regressed") or counts.get("failed"):
        sys.exit(1)


if __name__ == "__main__":
    main()
