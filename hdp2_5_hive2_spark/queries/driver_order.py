"""Driver-facing verification order for the correctness corpus.

The external driver verifies queries in ALPHABETICAL name order and has a
bounded per-round budget (~50 names/round observed in rounds 1-6). Plain
registry names therefore decide WHAT gets verified, and this module assigns
every registry query a zero-padded numeric prefix (``000_<name>``) so the
alphabetical order the driver uses IS the priority order we choose.

The order is DERIVED from the recorded ``CORRECTNESS_r*.json`` files; no
per-round list is kept by hand, so a new round's file rotates the window
with no code edit (:func:`rotation_plan`):

1. dark names first — no green verdict in any recorded round. A first
   verification beats a re-verification under any budget shortfall;
2. then the names in ``_REVERIFY`` whose newest green is older than the
   round their code changed in. An entry expires by itself once a green
   from that round lands;
3. then every other name, oldest newest-green first (the queue
   ``tools/newest_green.py`` prints), ties alphabetical. Each round's
   window therefore moves on to the stalest verdicts, and no name's newest
   verdict ages past ~len(REGISTRY)/50 rounds.

``_NEW_THIS_ROUND_DECLARED`` is the round in progress: one past the latest
recorded round. ``_NEW_THIS_ROUND`` is the dark set: a query added since
the last recorded round has no verdict yet, so it is dark by construction
and leads the order. Because the declared round is past every recorded
file, the no-verdict invariant checked against
``green_union(before_round=_NEW_THIS_ROUND_DECLARED)`` holds by definition
and cannot go stale when a file lands.

:func:`driver_order` evaluates the order against any green union (a
simulated future round, say): its dark names lead, and everything else
keeps its ``_ROTATION_PLAN`` slot.

The prefix is presentation-only: `REGISTRY` keys, tests and bench.py keep
the plain names. ``prefixed -> plain`` is recoverable by stripping
``^\\d+_``.
"""

from __future__ import annotations

import json
import pathlib
import re
from collections.abc import Iterator

from hdp2_5_hive2_spark.queries import REGISTRY, QuerySpec

_REPO_ROOT = pathlib.Path(__file__).resolve().parents[2]

# Re-verify map {name: round its code changed in}: a green from before that
# round no longer covers the shipped code, so the name leads the window
# until that round's file records it green. Expired entries may be deleted.
_REVERIFY: dict[str, int] = {
    "llm_exact_substring_dedup": 15,  # window pass fenced, 2×xxhash64 key
    "llm_kmeans_clusters": 15,        # one Arrow pass per Lloyd round
    "llm_kmeans_inertia": 15,         # same Lloyd kernel as kmeans_clusters
}
# Decision, round 15: `similarity.as_double_array` became one array cast
# instead of a transform lambda, which changes the expression tree of every
# consumer. They take no re-lead: each consumer's oracle test passes
# hash-identical, and the oldest-first order reaches them anyway. Recorded
# here so the omission is a decision, not an oversight.


def is_green(row: dict) -> bool:
    """The driver's green predicate for one CORRECTNESS row: value hash
    match, or rows match for an oracle-less check (no hash computed). A row
    whose hash was computed and mismatched is red even if the rows match."""
    if row.get("hash_match"):
        return True
    return bool(
        row.get("rows_match")
        and row.get("hash_match") is None
        and row.get("err") in (None, "no_oracle")
    )


def _recorded(root: pathlib.Path | None) -> list[tuple[int, pathlib.Path]]:
    """(round, path) of every recorded CORRECTNESS file, oldest first."""
    found = []
    for path in (root or _REPO_ROOT).glob("CORRECTNESS_r*.json"):
        m = re.match(r"CORRECTNESS_r(\d+)", path.name)
        if m:
            found.append((int(m.group(1)), path))
    return sorted(found)


def _green_verdicts(root: pathlib.Path | None) -> Iterator[tuple[int, str]]:
    """(round, plain name) of every green row in the recorded files."""
    for rnd, path in _recorded(root):
        for key, row in json.loads(path.read_text()).items():
            if is_green(row):
                yield rnd, re.sub(r"^\d+_", "", key)


def green_union(
    root: pathlib.Path | None = None, before_round: int | None = None
) -> set[str]:
    """Names with any green driver verdict (:func:`is_green`) across the
    recorded ``CORRECTNESS_r*.json`` files.

    ``before_round`` restricts to files from rounds strictly earlier — the
    green union as it stood when a round began (VERDICT r6 #2). That view
    is immutable: later rounds' files landing cannot change it.
    """
    return {
        name
        for rnd, name in _green_verdicts(root)
        if before_round is None or rnd < before_round
    }


def newest_green(root: pathlib.Path | None = None) -> dict[str, int]:
    """name -> newest round with a green driver verdict."""
    newest: dict[str, int] = {}
    for rnd, name in _green_verdicts(root):
        newest[name] = max(newest.get(name, 0), rnd)
    return newest


def declared_round(root: pathlib.Path | None = None) -> int:
    """The round in progress: one past the latest recorded round."""
    return max((rnd for rnd, _ in _recorded(root)), default=0) + 1


def rotation_plan(root: pathlib.Path | None = None) -> list[str]:
    """Every registry name in priority order, derived from the files under
    ``root``: dark, then stale re-verify entries, then oldest newest-green
    first; ties alphabetical within each tier."""
    newest = newest_green(root)

    def rank(name: str) -> tuple[int, int, str]:
        seen = newest.get(name)
        if seen is None:
            return (0, 0, name)
        tier = 1 if seen < _REVERIFY.get(name, 0) else 2
        return (tier, seen, name)

    return sorted(REGISTRY, key=rank)


_NEW_THIS_ROUND_DECLARED: int = declared_round()
_ROTATION_PLAN: list[str] = rotation_plan()


def dark_queries(green: set[str] | None = None) -> list[str]:
    """Registry names with no green driver verdict in any recorded round,
    DERIVED from the CORRECTNESS files (VERDICT r5 #2), in rotation-plan
    order."""
    g = green_union() if green is None else green
    return [n for n in _ROTATION_PLAN if n not in g]


_NEW_THIS_ROUND: list[str] = dark_queries()


def driver_order(green: set[str] | None = None) -> list[str]:
    """Plain registry names in driver-verification priority order: dark
    names (against ``green``, default the recorded files) first, then the
    rest of the rotation plan."""
    dark = dark_queries(green)
    seen = set(dark)
    return dark + [n for n in _ROTATION_PLAN if n not in seen]


def driver_registry() -> dict[str, QuerySpec]:
    """Prefixed-name → spec mapping whose ALPHABETICAL key order equals
    :func:`driver_order` (zero-padded numeric prefixes)."""
    names = driver_order()
    width = max(3, len(str(len(names) - 1)))
    return {f"{i:0{width}d}_{n}": REGISTRY[n] for i, n in enumerate(names)}
