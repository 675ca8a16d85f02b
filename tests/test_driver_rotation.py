"""The driver order rotates by itself: each recorded round's window moves
to the back of the queue, so the next round verifies other names.

Rounds 13 and 14 verified the same 50 names because the order was a
hand-kept plan that nobody rotated. The order now derives from the
``CORRECTNESS_r*.json`` files (``driver_order.rotation_plan``); these
tests land a simulated next-round file on a copy of the recorded ones and
check that the window moves with no code edit.
"""

from __future__ import annotations

import json
import pathlib
import shutil

from hdp2_5_hive2_spark.queries import REGISTRY
from hdp2_5_hive2_spark.queries.driver_order import (
    _NEW_THIS_ROUND_DECLARED,
    _REVERIFY,
    declared_round,
    driver_order,
    is_green,
    newest_green,
    rotation_plan,
)

_WINDOW = 50  # driver budget observed in rounds 1-6
_REPO = pathlib.Path(__file__).resolve().parents[1]


def _copy_recorded(dst: pathlib.Path) -> pathlib.Path:
    for path in _REPO.glob("CORRECTNESS_r*.json"):
        shutil.copy(path, dst / path.name)
    return dst


def _record_green(root: pathlib.Path, rnd: int, names: list[str]) -> None:
    rows = {
        f"{i:03d}_{n}": {
            "rows_match": True,
            "schema_match": True,
            "hash_match": True,
            "err": None,
        }
        for i, n in enumerate(names)
    }
    (root / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


def _stale_reverify(root: pathlib.Path | None = None) -> list[str]:
    newest = newest_green(root)
    return [n for n, rnd in _REVERIFY.items() if newest.get(n, 0) < rnd]


def test_window_moves_when_the_next_round_lands(tmp_path):
    """The round in progress records its whole window green; the round
    after it must verify 50 other names, and the re-verify entries
    expire."""
    root = _copy_recorded(tmp_path)
    assert declared_round(root) == _NEW_THIS_ROUND_DECLARED
    window = rotation_plan(root)[:_WINDOW]
    k = len(REGISTRY.keys() - newest_green(root).keys())  # dark names lead
    stale = _stale_reverify(root)
    assert set(window[k : k + len(stale)]) == set(stale), "stale re-verify names lead"

    _record_green(root, _NEW_THIS_ROUND_DECLARED, window)

    assert declared_round(root) == _NEW_THIS_ROUND_DECLARED + 1
    nxt = rotation_plan(root)[:_WINDOW]
    assert not set(nxt) & set(window), "the window did not move"
    assert _stale_reverify(root) == []
    assert not set(nxt) & set(_REVERIFY), "expired re-verify names still lead"
    newest = newest_green(root)
    assert max(newest.get(n, 0) for n in nxt) <= min(
        newest.get(n, 0) for n in REGISTRY if n not in set(nxt)
    ), "the next window is not the oldest verdicts"


def test_latest_recorded_window_is_not_reverified_next():
    """Against the recorded files: no name green in the latest round's file
    sits in the current window, unless its code changed after that round."""
    newest = newest_green()
    latest = declared_round() - 1
    just_verified = {
        n for n, rnd in newest.items() if rnd == latest and n in REGISTRY
    }
    assert just_verified, "the latest recorded round verified names"
    overlap = set(driver_order()[:_WINDOW]) & just_verified
    assert overlap <= set(_stale_reverify())


def test_order_is_dark_then_reverify_then_oldest_green_first():
    newest = newest_green()
    order = driver_order()
    stale = set(_stale_reverify())
    dark = [n for n in order if n not in newest]
    k, s = len(dark), len(stale)
    assert order[:k] == sorted(dark)
    assert set(order[k : k + s]) == stale
    rest = order[k + s :]
    assert rest == sorted(rest, key=lambda n: (newest[n], n))


def test_no_recorded_files_means_every_name_is_dark(tmp_path):
    assert declared_round(tmp_path) == 1
    assert rotation_plan(tmp_path) == sorted(REGISTRY)


def test_green_predicate():
    """Hash match is green; rows match counts only where no hash was
    computed (oracle-less checks). A computed hash mismatch stays red."""
    base = {"rows_match": True, "schema_match": True, "err": None}
    assert is_green({**base, "hash_match": True})
    assert is_green({**base, "hash_match": None})
    assert is_green({**base, "hash_match": None, "err": "no_oracle"})
    assert not is_green({**base, "hash_match": False})
    assert not is_green({**base, "rows_match": False, "hash_match": None})
    assert not is_green(
        {"rows_match": None, "schema_match": None, "hash_match": None, "err": "boom"}
    )

