#!/usr/bin/env python
"""Print newest-green round per registry name (VERDICT r11 polish #7b).

The driver order (``queries/driver_order.py``) re-verifies oldest
newest-green first; this helper prints that queue, the "newest green per
name" table of the CORRECTNESS_r*.json files:

    python tools/newest_green.py            # histogram + oldest block
    python tools/newest_green.py --block 4  # names whose newest green is r4
    python tools/newest_green.py --all      # full name -> round table

The table is ``newest_green`` from hdp2_5_hive2_spark.queries.driver_order,
so it applies the same green predicate (``is_green``) as the driver order.
"""

from __future__ import annotations

import argparse
import collections
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from hdp2_5_hive2_spark.queries import REGISTRY  # noqa: E402
from hdp2_5_hive2_spark.queries.driver_order import newest_green  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--block", type=int, help="list names whose newest green is this round")
    ap.add_argument("--all", action="store_true", help="full name -> round table")
    args = ap.parse_args(argv)

    table = newest_green()
    dark = sorted(n for n in REGISTRY if n not in table)

    if args.block is not None:
        for name in sorted(n for n, r in table.items() if r == args.block):
            print(name)
        return 0

    if args.all:
        for name in sorted(table):
            print(f"{table[name]:>3} {name}")
        if dark:
            print("--- dark (no verdict yet) ---")
            for name in dark:
                print(f"  - {name}")
        return 0

    hist = collections.Counter(table.values())
    print("newest-green histogram (round -> names):")
    for rnd in sorted(hist):
        print(f"  r{rnd:02d}: {hist[rnd]}")
    if dark:
        print(f"  dark: {len(dark)}")
    oldest = min(hist)
    print(f"\noldest block (r{oldest}, {hist[oldest]} names):")
    for name in sorted(n for n, r in table.items() if r == oldest):
        print(f"  {name}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
