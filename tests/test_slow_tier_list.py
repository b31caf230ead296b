"""tests/slow_tests.txt must name only tests that exist. A stale id
fails silently: a renamed slow test drops into the default tier, and
the list no longer says what the certifying slow run covers."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_slow_tier_id_names_a_collected_test():
    with open(os.path.join(ROOT, "tests", "slow_tests.txt")) as fh:
        ids = {
            ln.strip() for ln in fh
            if ln.strip() and not ln.startswith("#")
        }
    files = sorted({i.split("::")[0] for i in ids})
    assert all(os.path.isfile(os.path.join(ROOT, f)) for f in files)
    # pytest's own collection resolves functions, classes and
    # parametrizations exactly as the skip hook in conftest.py sees them
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q",
         "-p", "no:cacheprovider", *files],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    collected = {ln.strip() for ln in out.stdout.splitlines() if "::" in ln}
    stale = sorted(ids - collected)
    assert not stale, stale
