"""Regenerate ORACLE_SNAPSHOT.json: key -> md5 of each registered oracle SQL.

Run at ROUND END (after the driver's correctness pass), so the snapshot
records the oracle text the evidence actually proved. The driver
adapter's evidence_order (``__spark_entry__.py``) re-queues any key whose
current oracle md5 differs from this snapshot — editing an oracle
mid-round therefore automatically invalidates the key's prior green rows.

Keys listed in _STALE are deliberately OMITTED this run because their
oracle changed after the most recent driver evidence; omission = "treat as
changed" until the next driver pass records fresh evidence.

Run: python tools/snapshot_oracles.py [--stale key ...]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dodo_spark import registry  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--stale",
        nargs="*",
        default=[],
        help="keys whose oracle changed after the last driver evidence; "
        "omitted from the snapshot so they sort as unproven",
    )
    args = ap.parse_args()

    registry._load_all()
    snap = {
        name: hashlib.md5(spec.oracle.encode()).hexdigest()
        for name, spec in registry.REGISTRY.items()
        if spec.oracle is not None and name not in set(args.stale)
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "ORACLE_SNAPSHOT.json")
    with open(path, "w") as f:
        json.dump(snap, f, indent=1, sort_keys=True)
    print(f"wrote {len(snap)} oracle hashes -> {path}"
          + (f" (omitted stale: {', '.join(args.stale)})" if args.stale else ""))


if __name__ == "__main__":
    main()
