"""Print the gate tables queries.py derives from the committed gate results.

``remote_shuffle_spark.queries`` reads every CORRECTNESS_r*.json in the
repo root at import: for each query name that passed the external gate
(rows+schema+hash all true), the LATEST round in which it passed, and the
names whose latest check failed.  The registry rotates the stalest-
verified queries into the driver's 50-slot window (never-verified queries
sort first with round 0).  This script prints both tables for review.

Usage: python scripts/update_driver_verified.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from remote_shuffle_spark.queries import DRIVER_LATEST_FAILED, _gate_rows


def verified_rounds() -> dict[str, int]:
    """name -> latest round number with a fully-green gate row."""
    return _gate_rows()[0]


def latest_failed_names() -> list[str]:
    """Names whose MOST RECENT gate check was not fully green (err or any
    mismatch) — these outrank merely-stale rows for the next gate window,
    whatever their old green round says."""
    return sorted(DRIVER_LATEST_FAILED)


def verified_names() -> list[str]:
    return sorted(verified_rounds())


if __name__ == "__main__":
    rounds = verified_rounds()
    print(f"# {len(rounds)} names externally verified; value = latest green round")
    print("DRIVER_VERIFIED_ROUND: dict[str, int] = {")
    for n in sorted(rounds):
        print(f'    "{n}": {rounds[n]},')
    print("}")
    print()
    bad = latest_failed_names()
    print(f"# {len(bad)} names whose LATEST gate check failed — forced to the window head")
    print("DRIVER_LATEST_FAILED: frozenset[str] = frozenset({")
    for n in bad:
        print(f'    "{n}",')
    print("})")
