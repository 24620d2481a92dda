#!/usr/bin/env python3
"""DEV-ONLY adjudication step for the round-11 scale probe: merge the
[probe] sample lines from every ScaleProbe run log into ONE committed
artifact, taking the per-(query, scale) MIN over all successful samples
(the Bench stall-filtering discipline — this shared host charges
multi-second stalls to arbitrary queries, and single polluted samples
distort exponents) while recording EVERY sample so the adjudication is
auditable (the rerun_samples discipline).

Usage: python3 scripts/scaleprobe_merge.py OUT.json LOG [LOG...]
"""
import json
import math
import re
import sys


def main(out, logs):
    # samples[(name, scale)] = [sec, ...]; rows[(name, scale)] = int
    samples, rows, scales, names = {}, {}, [], []
    pat = re.compile(
        r"\[probe\] x(\d+) (\S+)\s+t1=\s*(-?[\d.]+) t2=\s*(-?[\d.]+) "
        r"rows=\s*(-?\d+)")
    for log in logs:
        for line in open(log, errors="replace"):
            m = pat.search(line)
            if not m:
                continue
            scale, name = int(m.group(1)), m.group(2)
            if scale not in scales:
                scales.append(scale)
            if name not in names:
                names.append(name)
            key = (name, scale)
            for t in (float(m.group(3)), float(m.group(4))):
                if t >= 0:
                    samples.setdefault(key, []).append(t)
            r = int(m.group(5))
            if r >= 0:
                prev = rows.get(key)
                assert prev is None or prev == r, \
                    f"row-count drift for {key}: {prev} vs {r}"
                rows[key] = r
    scales.sort()
    m0, mN = scales[0], scales[-1]
    mT = scales[-2] if len(scales) >= 2 else m0
    queries = {}
    for n in names:
        entry = {}
        for m in scales:
            ss = sorted(samples.get((n, m), []))
            if not ss:
                continue
            entry[f"x{m}"] = {"sec": round(min(ss), 3),
                              "rows": rows.get((n, m), -1),
                              "samples": [round(t, 2) for t in ss]}
        def t_of(m):
            e = entry.get(f"x{m}")
            return e["sec"] if e else None
        def expo(a, b):
            ta, tb = t_of(a), t_of(b)
            if not ta or not tb or ta <= 0 or tb <= 0:
                return None
            return round(math.log(tb / ta) / math.log(b / a), 3)
        entry["ratio"] = (round(t_of(mN) / t_of(m0), 3)
                          if t_of(m0) and t_of(mN) else None)
        entry["alpha"] = expo(m0, mN)
        entry["alpha_tail"] = expo(mT, mN)
        queries[n] = entry
    doc = {"probe": "scale", "base": "/root/testdata/sf0.1",
           "scales": scales,
           "protocol": ("per-cell MIN over all successful samples from "
                        f"{len(logs)} full ScaleProbe runs (2 samples "
                        "per run per cell; owners rebuild scratch "
                        "between samples); every sample recorded"),
           "queries": queries}
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    # console table
    hdr = f"{'query':26s}" + "".join(
        f"{'x' + str(m):>9s}{'rows':>9s}" for m in scales) + \
        f"{'alpha':>7s}{'tail':>7s}"
    print(hdr)
    for n, q in queries.items():
        line = f"{n:26s}"
        for m in scales:
            e = q.get(f"x{m}", {})
            line += f"{e.get('sec', '-'):>9}{e.get('rows', '-'):>9}"
        line += f"{str(q['alpha']):>7s}{str(q['alpha_tail']):>7s}"
        print(line)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2:])
