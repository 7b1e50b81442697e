"""Plan the next driver-window rotation batch.

The external driver hash-checks only the FIRST 50 registered queries
each round; `queries._rotate_registry` pins positions 1-20 to the
stalwart head and 21-50 to `_DRIVER_WINDOW_ROTATION`. This tool reports
which registered families have NEVER appeared in any committed
CORRECTNESS_r*.json, so each round's rotation can retire the backlog
deliberately instead of by guesswork (VERDICT r12 #6: keep the driver
window honest).

Usage: python tools/rotation_plan.py [batch_size]
Prints the backlog and a suggested next batch (never-checked first,
oracle-gated only, registration order).
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from wallaroo_spark.queries import (  # noqa: E402
    ORACLES,
    QUERIES,
    _DRIVER_WINDOW_ROTATION,
    _STALWART_HEAD,
)


def main() -> None:
    batch = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    checked: set[str] = set()
    for p in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        with open(p) as f:
            d = json.load(f)
        if isinstance(d, dict):
            # a name counts as checked only with a GREEN row — an
            # error-only record (e.g. ephemeral_windows' r01 no_oracle)
            # must stay in the backlog, not be silently retired (r14:
            # that trap hid ephemeral_windows from the suggestions for
            # two rounds). Green means hash_match for oracle-gated
            # names; a rows-only match suffices only for names with no
            # oracle (review r14: rows_match alone would retire a
            # hash-MISMATCHED family — the same trap again).
            checked |= {
                n for n, v in d.items()
                if isinstance(v, dict)
                and v.get("err") is None
                and (
                    v.get("hash_match")
                    if n in ORACLES
                    else v.get("rows_match")
                )
            }
    in_window = set(_STALWART_HEAD) | set(_DRIVER_WINDOW_ROTATION)
    never = [n for n in QUERIES if n not in checked and n not in in_window]
    rows_only = [n for n in never if n not in ORACLES]
    candidates = [n for n in never if n in ORACLES]
    print(f"registered: {len(QUERIES)}  ever driver-checked: "
          f"{len(checked & set(QUERIES))}  current window covers: "
          f"{len(in_window)}")
    print(f"never-checked backlog (outside current window): {len(never)} "
          f"({len(rows_only)} rows-only, excluded from suggestions)")
    print(f"\nsuggested next batch ({min(batch, len(candidates))} of "
          f"{len(candidates)} oracle-gated):")
    for n in candidates[:batch]:
        print(f'    "{n}",')
    if rows_only:
        print(
            "\nrows-only (no SQL oracle; as of r16 each carries a"
            " per-column proof of driver-eigensolve dependence in its"
            " docstring, with every non-eigensolve arm hash-gated by a"
            " sibling query):"
        )
        for n in rows_only:
            print(f"    {n}")


if __name__ == "__main__":
    main()
