"""The registry keeps the order in which ``@query`` registered its entries,
and importing it reads no round-history file (``CORRECTNESS_r*.json``, a
cert-hash ledger): which files are on disk cannot change ``queries()``."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_HISTORY = re.compile(r"(CORRECTNESS_r\d+|cert_hash\w*)\.json$")

_PROBE = """
import json, os, sys
sys.path.insert(0, {repo!r})
opened = []

def hook(event, args):
    if event == "open" and isinstance(args[0], (str, bytes, os.PathLike)):
        opened.append(os.fsdecode(args[0]))

sys.addaudithook(hook)
from seoul_big_data_spark.queries import ORACLES, QUERIES
print(json.dumps({{"opened": opened, "queries": list(QUERIES),
                  "oracles": list(ORACLES)}}))
"""



def test_registration_order_and_no_round_history_read():
    out = subprocess.run(
        [sys.executable, "-c", _PROBE.format(repo=REPO)],
        capture_output=True, text=True, check=True, cwd=REPO,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    history = [p for p in got["opened"] if _HISTORY.search(p)]
    assert not history, history
    assert got["queries"][:3] == [
        "flagship_pricing_summary", "ingest_resume_load", "ingest_audit_count"
    ]
    oracles = set(got["oracles"])
    assert got["oracles"] == [n for n in got["queries"] if n in oracles]
