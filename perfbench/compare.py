#!/usr/bin/env python3
"""Compare two sets of benchmark result files, metric by metric.

    python3 perfbench/compare.py <before> <after>

Each side is a result file or a directory of them (perfbench/work/results
keeps one per run). Results are paired per workload and trace mode, and the
medians of each metric are compared. A pairing is refused when the two sides'
stamps differ in any host or regime fact: a number measured on another host
or under another session regime is not comparable.
"""
import json
import os
import statistics
import sys

# stamp keys that must agree for two results to be compared
HOST_KEYS = ["cpus", "host_cpus", "shuffle_partitions", "aqe", "jdk", "spark",
             "data", "full", "ops", "seconds"]


def load(path):
    files = [os.path.join(path, f) for f in sorted(os.listdir(path))] \
        if os.path.isdir(path) else [path]
    out = {}
    for f in files:
        if f.endswith(".json"):
            r = json.load(open(f))
            s = r["stamp"]
            out.setdefault((s["workload"], s["trace"]), []).append(r)
    return out


def host(results):
    facts = {json.dumps({k: r["stamp"].get(k) for k in HOST_KEYS},
                        sort_keys=True) for r in results}
    return facts


def main(before, after):
    a, b = load(before), load(after)
    refused = 0
    for key in sorted(set(a) & set(b)):
        ha, hb = host(a[key]), host(b[key])
        if len(ha) != 1 or ha != hb:
            print(f"{key[0]} trace={int(key[1])}: REFUSED, stamps differ:\n"
                  f"  before {sorted(ha)}\n  after  {sorted(hb)}")
            refused += 1
            continue
        section = "per_layer" if key[1] else "end_to_end"
        print(f"{key[0]} trace={int(key[1])} "
              f"({len(a[key])} vs {len(b[key])} runs)")
        for m in sorted(a[key][0][section]):
            va = [r[section][m] for r in a[key] if m in r[section]]
            vb = [r[section][m] for r in b[key] if m in r[section]]
            if not va or not vb:
                continue
            ma, mb = statistics.median(va), statistics.median(vb)
            rel = f"{(mb - ma) / ma:+.1%}" if ma else "n/a"
            print(f"  {m:>32}: {ma:12.4g} -> {mb:12.4g}  {rel}")
    return 1 if refused else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
