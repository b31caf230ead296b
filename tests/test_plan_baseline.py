"""Committed plan-fingerprint baseline: PLAN_BASELINE.json pins the
normalized optimized-plan digest of EVERY registered query (gated +
extra). bench.py has emitted these fingerprints since r7 and
tests/test_bench_fingerprint.py proves they are a function of the plan
alone — but nothing FAILED when a plan regressed; the fp was only
consulted forensically. This test makes a plan change a reviewed event:
an intentional change must touch the baseline file in the same commit.

Update path (after verifying the new plan is the one you want, e.g. via
.explain("formatted") and a bench run):

    MDLS_UPDATE_PLAN_BASELINE=1 python -m pytest tests/test_plan_baseline.py

which rewrites PLAN_BASELINE.json in place; commit it with the change.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASELINE_FILE = os.path.join(ROOT, "PLAN_BASELINE.json")
# fingerprints are sf-independent (data paths are normalized out;
# proven by test_bench_fingerprint.py) — build on the smallest fixture
SF = "/root/testdata/sf0.001"
# load_star_table_spread repartitions to the session's parallelism and
# that count is part of the plan, so the baseline is defined at one
# fixed parallelism, whatever the core count of the machine running it
PARALLELISM = "8"

# a fresh session: the baseline is defined over UNCACHED plans, and a
# frame another test cached would make Spark's CacheManager substitute
# InMemoryRelation into every matching sub-plan
_FINGERPRINTS = """
import json, sys
from bench import plan_fingerprint
from medallion_data_lake_spark.queries import load_all_extra
from medallion_data_lake_spark.session import get_spark

n = sys.argv[2]
spark = get_spark(master=f"local[{n}]",
                  extra_conf={"spark.sql.shuffle.partitions": n})
spark.sparkContext.setLogLevel("ERROR")
fps = {name: plan_fingerprint(spec.build(spark, sys.argv[1]))
       for name, spec in sorted(load_all_extra().items())}
spark.stop()
print(json.dumps(fps))
"""


def _current_fps(tmp_path) -> dict[str, str]:
    env = dict(os.environ, PYTHONPATH=ROOT, SPARK_GRAFT_DRIVER_MEM="2g")
    out = subprocess.run(
        [sys.executable, "-c", _FINGERPRINTS, SF, PARALLELISM],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_plans_match_committed_baseline(tmp_path):
    fps = _current_fps(tmp_path)
    if os.environ.get("MDLS_UPDATE_PLAN_BASELINE") == "1":
        with open(BASELINE_FILE, "w") as fh:
            json.dump(fps, fh, indent=1, sort_keys=True)
            fh.write("\n")
        pytest.skip("PLAN_BASELINE.json rewritten; commit it")
    assert os.path.exists(BASELINE_FILE), (
        "PLAN_BASELINE.json missing — generate it with "
        "MDLS_UPDATE_PLAN_BASELINE=1 python -m pytest "
        "tests/test_plan_baseline.py"
    )
    baseline = json.load(open(BASELINE_FILE))
    drifted = {
        n: (baseline.get(n), fp)
        for n, fp in fps.items()
        if baseline.get(n) != fp
    }
    removed = sorted(set(baseline) - set(fps))
    assert not drifted and not removed, (
        f"optimized plans drifted from PLAN_BASELINE.json — "
        f"changed/new: {sorted(drifted)}; removed: {removed}. If the new "
        "plan is intended (verified via explain + bench), regenerate with "
        "MDLS_UPDATE_PLAN_BASELINE=1 python -m pytest "
        "tests/test_plan_baseline.py and commit the file in the SAME "
        "change; if not, you just caught a plan regression before it "
        "cost a bench cycle."
    )
