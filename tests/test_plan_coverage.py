"""One registry sweep: every registered query is built once, and
``plan_audit.audit`` checks its own plan and every plan its build ran
(read from the SQL status store, stream micro-batches included): a
non-empty schema, no non-broadcast ``CartesianProduct``, no
``BatchEvalPython`` outside the named slow-path twins, no unjustified
global window.  No name decides how a query is treated: a new query
is swept the moment it is registered.  The 1-in-8 sample
``sorted(QUERIES)[::8]`` is also profiled and must match
QUERY_TRAITS.json (bench's families).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

from real_time_financial_lakehouse_spark import registry

from conftest import SF_SMOKE

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)
from plan_audit import audit  # noqa: E402
from query_traits import MODULE_FAMILY, TRAITS_PATH, build_traced  # noqa: E402

NAMES = sorted(registry.QUERIES)
FAMILY_SAMPLE = set(NAMES[::8])
FAMILIES = {"streaming", "table_io", "batch", *MODULE_FAMILY.values()}

with open(TRAITS_PATH) as _f:
    TRAITS = json.load(_f)


def test_every_query_has_a_measured_family():
    """QUERY_TRAITS.json names exactly the registry, so a query added
    without re-running scripts/query_traits.py fails here, at once."""
    assert set(TRAITS) == set(registry.QUERIES)
    assert set(TRAITS.values()) <= FAMILIES


@pytest.mark.parametrize("name", NAMES)
def test_executed_plans_free_of_scale_antipatterns(spark, name):
    profile = name in FAMILY_SAMPLE
    trace = build_traced(spark, registry.QUERIES[name], SF_SMOKE, profile=profile)
    assert audit(name, trace)["flags"] == [], name
    if profile:
        assert trace.family == TRAITS[name], f"{name}: re-run scripts/query_traits.py"
