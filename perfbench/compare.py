"""Compare two sets of benchmark results, refusing mismatched hosts.

    python3 perfbench/compare.py BASE_DIR HEAD_DIR

Each directory holds the detail records ``run.py`` writes under
``.perfbench_work/results/`` (untraced runs, ``*-t0-*.json``).  Runs are
paired by workload and seed; a pair whose fingerprints differ — another
core count, pyspark version, input scale, run length or seed — makes the
comparison exit with code 2 before printing anything.  For every workload
and end-to-end metric it prints both medians, the change, and how many
pairs the head run won.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

LOWER_IS_BETTER = {"setup_s", "build_s", "read_op_s", "write_op_s", "peak_rss_mb"}


def load(d: str) -> dict[tuple[str, int], dict]:
    out = {}
    for name in sorted(os.listdir(d)):
        if name.endswith(".json") and "-t0-" in name:
            with open(os.path.join(d, name)) as f:
                rec = json.load(f)
            fp = rec["fingerprint"]
            out[(fp["workload"], fp["seed"])] = rec
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, head = load(argv[0]), load(argv[1])
    pairs = sorted(set(base) & set(head))
    for key in pairs:
        if base[key]["fingerprint"] != head[key]["fingerprint"]:
            print(f"refused: fingerprints differ for {key}:\n"
                  f"  base {base[key]['fingerprint']}\n  head {head[key]['fingerprint']}",
                  file=sys.stderr)
            return 2
    if not pairs:
        print("no runs pair up by workload and seed", file=sys.stderr)
        return 2
    for wl in sorted({w for w, _ in pairs}):
        keys = [k for k in pairs if k[0] == wl]
        print(f"{wl}: {len(keys)} pairs")
        for m in base[keys[0]]["end_to_end"]:
            b = [base[k]["end_to_end"][m] for k in keys]
            h = [head[k]["end_to_end"][m] for k in keys]
            sign = -1 if m in LOWER_IS_BETTER else 1
            wins = sum(sign * (y - x) > 0 for x, y in zip(b, h))
            mb, mh = statistics.median(b), statistics.median(h)
            print(f"  {m:14s} base {mb:.4f}  head {mh:.4f}  "
                  f"change {(mh - mb) / mb:+.1%}  head won {wins}/{len(keys)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
