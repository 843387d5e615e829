"""Compare two sets of benchmark result files (written by run.py under
<build dir>/results/), metric by metric, by their medians.

    python3 perfbench/compare.py BEFORE.json [...] -- AFTER.json [...]

Refuses (exit 2) when the two sides differ in provenance: cpus, shuffle
partitions, fixture, -Xmx, JVM, Spark, workload, run length, trace mode or
workload parameters. The git rev and the seed may differ: comparing revs is
the point, and the seed only reorders inputs. A run that started at a
loadavg above its cpu count, or lost more than 5% of its CPU time to other
guests (steal), is flagged, since co-tenant load moves every number.
"""

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import PROVENANCE_MATCH  # noqa: E402


def load(paths):
    out = []
    for p in paths:
        with open(p) as fh:
            out.append(json.load(fh))
    return out


def provenance_key(r):
    return {k: r["provenance"].get(k) for k in PROVENANCE_MATCH}


def main(argv):
    if "--" not in argv:
        sys.exit(__doc__)
    i = argv.index("--")
    before, after = load(argv[:i]), load(argv[i + 1:])
    if not before or not after:
        sys.exit(__doc__)
    keys = {json.dumps(provenance_key(r), sort_keys=True) for r in before + after}
    if len(keys) != 1:
        print("refusing to compare: provenance differs", file=sys.stderr)
        for k in sorted(keys):
            print("  " + k, file=sys.stderr)
        return 2
    for r in before + after:
        p = r["provenance"]
        if p["loadavg_entry"] > p["cpus"] or p["cpu_steal_share"] > 0.05:
            print(f'warning: rev {p["rev"][:12]} seed {p["seed"]}: loadavg at entry '
                  f'{p["loadavg_entry"]}, steal {p["cpu_steal_share"]:.1%}', file=sys.stderr)
    revs = lambda rs: ",".join(sorted({r["provenance"]["rev"][:12] for r in rs}))  # noqa: E731
    print(f"{'metric':34} {'before':>12} {'after':>12} {'after/before':>13}   "
          f"({revs(before)} n={len(before)} -> {revs(after)} n={len(after)})")
    for name, m in before[0]["metrics"].items():
        b = statistics.median(r["metrics"][name]["value"] for r in before)
        a = statistics.median(r["metrics"][name]["value"] for r in after)
        ratio = f"{a / b:13.3f}" if b else f"{'-':>13}"
        print(f"{name:34} {b:12.4g} {a:12.4g} {ratio}   {m['unit']}")
    bad = [r for r in before + after if not r["correct"]]
    for r in bad:
        print(f'incorrect: rev {r["provenance"]["rev"][:12]} seed {r["provenance"]["seed"]}: '
              f'{r["failures"]}', file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
