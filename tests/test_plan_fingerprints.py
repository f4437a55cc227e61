"""Physical-plan regression gate: every registered query's plan must
carry exactly the node counts recorded in PLAN_FINGERPRINTS.json.

The bench catches TIME regressions (noisy); this catches PLAN
regressions deterministically — an extra Exchange, a broadcast that
silently degraded to sort-merge, Python evaluation appearing where the
path is supposed to be codegen. When a plan change is INTENTIONAL,
regenerate the golden (tools/gen_plan_fingerprints.py) and commit it
with the change so the diff reviews the plan delta explicitly.

Queries added after the last regeneration pass trivially (no golden
entry yet) — the generator picks them up on its next run.
"""

from __future__ import annotations

import json
import os

import pytest

# full-registry plan sweep: the heavy lane
pytestmark = pytest.mark.slow

from icnarc_to_philips_linkage_spark.plans.registry import all_queries
from tools.gen_plan_fingerprints import plan_fingerprint

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "..", "PLAN_FINGERPRINTS.json")
GOLDEN = json.load(open(GOLDEN_PATH))

CASES = sorted(all_queries().items())


@pytest.mark.parametrize("name,pair", CASES, ids=[n for n, _ in CASES])
def test_plan_fingerprint_unchanged(spark, name, pair):
    if name not in GOLDEN:
        pytest.skip("new query — not yet in the golden fingerprints")
    fn, _ = pair
    # same routine and scale (sf0.001) as the generator, and the same
    # shuffle_partitions (conftest), so counts are deterministic
    got = plan_fingerprint(spark, fn)
    assert got == GOLDEN[name], (
        f"{name}: physical plan changed.\n  golden: {GOLDEN[name]}\n"
        f"  now:    {got}\nIf intentional, regenerate with "
        f"`python tools/gen_plan_fingerprints.py` and commit the delta."
    )
