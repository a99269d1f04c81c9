"""Snapshot green-time source fingerprints for the verification rotation.

RUN FIRST THING EACH ROUND, BEFORE ANY EDIT: when round N's
CORRECTNESS_rN.json lands, HEAD is exactly the code the round-N driver
verified, so the current fingerprint of each round-N-green query IS its
green-time fingerprint.  This script records those into
QUERY_FINGERPRINTS.json (leaving earlier-green queries' records
untouched); ``ordered_queries()`` then promotes any green query whose
current fingerprint has drifted from its record into the
rewritten-since-green verification tier.

Default: update records for queries green in the LATEST round only.

--bootstrap: also record current fingerprints for every cumulatively
green query that has no record yet, attributing them to their
last-green round — valid only when the current source is known
unchanged since that green.  --rehash: re-record ALL cumulatively
green queries at their last-green round — for after a change to the
fingerprint ALGORITHM itself, valid only when no query source has
changed since its green.  --stale NAME (repeatable) marks known
rewritten-since-green queries with a null fingerprint instead, forcing
them into the rewritten tier until they go green again.
"""

from __future__ import annotations

import argparse
import json
import os

from _measure import ROOT

from yet_another_map_reduce_spark.fingerprints import (
    FINGERPRINTS_FILE,
    correctness_history,
    load_recorded,
    query_components,
)
from yet_another_map_reduce_spark.queries import ORACLES, QUERIES


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--bootstrap", action="store_true")
    ap.add_argument("--rehash", action="store_true")
    ap.add_argument("--stale", action="append", default=[])
    args = ap.parse_args()

    last_green, last_seen, _rows_only, latest = correctness_history(ROOT)
    recorded = load_recorded(ROOT)
    updated = []

    for q in QUERIES:
        green = q in last_green and last_green[q] == last_seen[q]
        if not green:
            continue
        if q in args.stale:
            recorded[q] = {"fingerprint": None, "round": last_green[q]}
            updated.append(f"{q} (marked stale)")
        elif last_green[q] == latest:
            fpr, parts = query_components(q, QUERIES, ORACLES)
            recorded[q] = {"fingerprint": fpr, "round": latest, "parts": parts}
            updated.append(q)
        elif args.rehash or (args.bootstrap and q not in recorded):
            if args.rehash and q in recorded and recorded[q].get("fingerprint") is None:
                # an explicit --stale marker survives an algorithm
                # rehash: re-recording would stamp possibly-rewritten
                # source as verified at its old round (pass --stale
                # again alongside --rehash to keep it stale, which this
                # branch does implicitly by skipping)
                updated.append(f"{q} (stale marker kept)")
                continue
            fpr, parts = query_components(q, QUERIES, ORACLES)
            recorded[q] = {
                "fingerprint": fpr,
                "round": last_green[q],
                "parts": parts,
            }
            updated.append(f"{q} (r{last_green[q]})")

    with open(os.path.join(ROOT, FINGERPRINTS_FILE), "w") as fh:
        json.dump(
            {q: recorded[q] for q in sorted(recorded)}, fh, indent=1, sort_keys=True
        )
        fh.write("\n")
    print(f"recorded {len(updated)} fingerprints (latest round = r{latest}):")
    for u in updated:
        print(f"  {u}")


if __name__ == "__main__":
    main()
