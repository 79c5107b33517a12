"""Maintain the certification-hash ledger (ADVICE r7, queries.py gate order).

Problem: gate ordering had no "query changed since certification" signal —
a query whose output semantics changed kept its officially-green rank from a
years-old CORRECTNESS row for the OLD query text, and re-certification
depended only on staleness rotation reaching it.

Fix: this tool snapshots the deep fingerprint (sha256 over the query
function's TRANSITIVE in-package source closure + oracle SQL — see
seoul_big_data_spark/certhash.py; r10 upgraded from shallow function-source
hashes, which missed helper rewrites) for every currently-registered query
into ``tools/cert_hashes.json``, tagged with the latest round that
officially gated it. The gate ordering in
``seoul_big_data_spark/queries.py`` compares each green query's CURRENT
source hash against the ledger: a mismatch means the green record describes
a different query text, so the entry demotes to never-gated rank (-1) and
re-fronts automatically.

Run once per round, right after committing the new ``CORRECTNESS_r{N}.json``
(the ledger entry for a query is only refreshed when its latest official
row is at least as new as the previously-recorded one, so an edit between
gatings keeps the OLD certified hash and the mismatch is detected).

The ledger must be hashed over the source that the new
``CORRECTNESS_r{N}.json`` gated, not over today's tree. If the package has
changed since the gating commit, run the current recorder and the current
``seoul_big_data_spark/certhash.py`` (with the current ledger) over a
``git archive`` of that commit and copy the resulting ledger back; run at
HEAD instead, it would record the post-gating edits as certified and they
would never re-front.

Usage: python tools/record_cert_hashes.py
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
LEDGER = os.path.join(REPO, "tools", "cert_hashes.json")


def current_hashes() -> dict[str, str]:
    from seoul_big_data_spark.certhash import deep_fingerprint
    from seoul_big_data_spark.queries import ORACLES, QUERIES

    return {
        name: deep_fingerprint(fn, ORACLES.get(name, ""))
        for name, fn in QUERIES.items()
    }


def latest_official_round() -> dict[str, int]:
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                doc = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        for name, row in doc.items():
            if isinstance(row, dict):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def main() -> None:
    cur = current_hashes()
    latest = latest_official_round()
    ledger: dict[str, dict] = {}
    if os.path.exists(LEDGER):
        with open(LEDGER) as fh:
            ledger = json.load(fh)
    refreshed, kept = 0, 0
    for name, h in cur.items():
        rnd = latest.get(name)
        if rnd is None:
            continue  # never gated: nothing to certify yet
        prev = ledger.get(name)
        if prev is None or rnd > prev.get("round", -1):
            ledger[name] = {"round": rnd, "hash": h}
            refreshed += 1
        else:
            kept += 1
    # drop ledger entries for de-registered queries
    ledger = {n: v for n, v in ledger.items() if n in cur}
    with open(LEDGER, "w") as fh:
        json.dump(ledger, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"cert_hashes.json: {refreshed} refreshed, {kept} kept, "
          f"{len(ledger)} total")


if __name__ == "__main__":
    main()
