"""Compare the per-query timings of two bench JSONs.

Usage: python tools/bench_compare.py OLD.json NEW.json

Accepts either the raw one-line output of bench.py or the driver's
BENCH_r{N}.json wrapper ({"parsed": {...}}). Ratios are raw new/old
wall times: compare only runs made on the same host under the same
conditions (host-speed normalization was retired in r11, BASELINE.md).
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> dict:
    with open(path) as f:
        d = json.load(f)
    return d.get("parsed", d)


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    old, new = load(sys.argv[1]), load(sys.argv[2])
    qo, qn = old["queries"], new["queries"]
    print(f"total: {old['value']} -> {new['value']} "
          f"({new['value'] / old['value']:.2f}x)")
    print(f"{'query':<28}{'old':>8}{'new':>8}{'x':>8}")
    flagged = []
    for q in sorted(set(qo) & set(qn)):
        ratio = qn[q] / qo[q]
        print(f"{q:<28}{qo[q]:>8.3f}{qn[q]:>8.3f}{ratio:>8.2f}")
        if ratio > 1.5:
            flagged.append((q, ratio))
    if flagged:
        print("\nqueries >1.5x slower (investigate plans):")
        for q, r in flagged:
            print(f"  {q}: {r:.2f}x")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
