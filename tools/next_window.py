#!/usr/bin/env python
"""Emit the next driver-window (_PRIORITY) from CORRECTNESS_r*.json history.

The driver hard-checks the FIRST 50 registry entries each round; this tool
picks those 50 by staleness so no gate's latest driver check ages beyond
the budget (round-6 verdict item 3):

  1. gates NEVER seen in any CORRECTNESS_r*.json window, by name;
  2. then gates by OLDEST most-recent driver check (ties: by name), so the
     window does not depend on which module registers a gate.

A gate counts as "checked" in round N if it has a row in CORRECTNESS_rN
(green or red — a red row is still driver evidence; reds must be re-greened,
which a later window row shows).  Output is a ready-to-paste Python list.

Usage:  python tools/next_window.py [--size 50] [--repo /root/repo]
"""
from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys


def load_history(repo: str) -> dict[str, int]:
    """gate -> most recent round number it sat in a driver window."""
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as f:
            data = json.load(f)
        if not isinstance(data, dict):
            continue
        for gate in data:
            latest[gate] = max(latest.get(gate, 0), rnd)
    return latest


def registry_names(repo: str) -> list[str]:
    sys.path.insert(0, repo)
    from __spark_entry__ import queries  # noqa: PLC0415

    return list(queries())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--size", type=int, default=50)
    ap.add_argument("--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    args = ap.parse_args()

    latest = load_history(args.repo)
    names = registry_names(args.repo)
    # Never-checked first, then oldest-checked first; ties by name.
    ranked = sorted(names, key=lambda n: (latest.get(n, -1), n))
    window = ranked[: args.size]

    never = [n for n in window if n not in latest]
    print(f"# registry={len(names)} gates; never-driver-checked={sum(1 for n in names if n not in latest)}", file=sys.stderr)
    print(f"# window: {len(never)} never-checked + {len(window) - len(never)} stalest re-checks", file=sys.stderr)
    by_round: dict[int, int] = {}
    for n in window:
        by_round[latest.get(n, -1)] = by_round.get(latest.get(n, -1), 0) + 1
    print(f"# window staleness histogram (round -> count, -1 = never): {dict(sorted(by_round.items()))}", file=sys.stderr)

    print("_PRIORITY = [")
    for n in window:
        tag = "never" if n not in latest else f"last r{latest[n]}"
        print(f'    "{n}",  # {tag}')
    print("]")


if __name__ == "__main__":
    main()
