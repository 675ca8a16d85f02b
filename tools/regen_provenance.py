#!/usr/bin/env python
"""Regenerate COVERAGE.md's "Verification provenance" section from the
recorded CORRECTNESS_r*.json files and the current driver rotation.

Usage: python tools/regen_provenance.py [round_number]

round_number (default: the round in progress, `_NEW_THIS_ROUND_DECLARED`)
only labels the position column ("rN pos") and the prose; the dark set and
positions always derive from the live `driver_registry()` /
`dark_queries()` state, so running this after any registry change or new
CORRECTNESS file keeps the table honest.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from hdp2_5_hive2_spark.queries.driver_order import (
        _NEW_THIS_ROUND_DECLARED,
        dark_queries,
        driver_registry,
        green_union,
        is_green,
    )

    rnd_label = int(sys.argv[1]) if len(sys.argv) > 1 else _NEW_THIS_ROUND_DECLARED

    reg = list(driver_registry())
    pos = {re.sub(r"^\d+_", "", n): i for i, n in enumerate(reg)}
    verd: dict[str, dict[int, str]] = {}
    files = sorted(glob.glob("CORRECTNESS_r*.json"))
    for f in files:
        rnd = int(re.search(r"r(\d+)", f).group(1))
        for name, rec in json.load(open(f)).items():
            plain = re.sub(r"^\d+_", "", name)
            verd.setdefault(plain, {})[rnd] = "green" if is_green(rec) else "RED"
    names = sorted(pos)
    green = green_union()
    dark = sorted(dark_queries())
    last = re.search(r"r(\d+)", files[-1]).group(1) if files else "??"
    lines = [
        "## Verification provenance (driver rounds)",
        "",
        f"Generated by tools/regen_provenance.py from CORRECTNESS_r01..r{last}.json",
        "+ the current driver rotation (`queries/driver_order.py`). Position =",
        f"alphabetical rank the driver sees in round {rnd_label}; the window is ~50",
        f"names. {len(green)}/{len(names)} queries have a green driver verdict.",
        f"Dark names ({len(dark)}) lead the window, then re-verifications of",
        "changed kernels, then oldest-verdict refreshes. The order derives from",
        "the CORRECTNESS files at call time; tests/test_driver_order.py and",
        "tests/test_driver_rotation.py pin its layout.",
        "",
        f"| Query | r{rnd_label} pos | Driver verdicts |",
        "|---|---|---|",
    ]
    for n in names:
        v = verd.get(n)
        vs = (
            ", ".join(f"r{r:02d}: {s}" for r, s in sorted(v.items()))
            if v
            else f"— (dark, leads r{rnd_label} window)"
        )
        lines.append(f"| {n} | {pos[n]:03d} | {vs} |")
    section = "\n".join(lines) + "\n"
    cov = open("COVERAGE.md").read()
    head, sep, _ = cov.partition("## Verification provenance (driver rounds)")
    if not sep:
        raise SystemExit("COVERAGE.md provenance header not found")
    open("COVERAGE.md", "w").write(head + section)
    print(f"regenerated: {len(names)} registry / {len(green)} green / {len(dark)} dark")


if __name__ == "__main__":
    main()
