"""Shadow-tier correctness gate: every query beyond the driver's
50-query cap is oracle-checked HERE, by the same compare the driver
runs (row count + schema + order-insensitive canonical values), so
fitting the cap never again deletes verified capability surface."""

from __future__ import annotations

import dataclasses

import pytest

from kafkastreamsproject_spark.plans.registry import (
    DRIVER_QUERY_CAP,
    all_queries,
    shadow_queries,
)
from kafkastreamsproject_spark.testing.compare import run_compare

_SHADOW = shadow_queries()


def test_shadow_tier_is_populated_and_disjoint():
    primary = all_queries()
    assert len(primary) <= DRIVER_QUERY_CAP
    assert _SHADOW, "shadow tier should hold the beyond-cap surface"
    assert not set(primary) & set(_SHADOW)
    # shadow entries are full contract: every one carries an oracle
    for name, spec in _SHADOW.items():
        assert spec.oracle is not None, f"{name} registered shadow without oracle"


@pytest.fixture(scope="module", params=sorted(_SHADOW))
def shadow(request, spark, sf_dir):
    """(name, DataFrame): each shadow query built ONCE and shared by
    both tests below — many builders execute eagerly, so building per
    test doubled the module's wall.  Module scope makes pytest run both
    tests of one name back to back, so only one query's built state is
    live at a time; the plan check is defined first so it inspects the
    plan before the compare executes it."""
    name = request.param
    return name, _SHADOW[name].spark(spark, sf_dir)


def test_shadow_query_plans_no_cartesian(shadow):
    """Shadow queries obey the same plan hygiene as primary ones: no
    CartesianProduct anywhere (q22's one-row scalar broadcast plans as
    BroadcastNestedLoopJoin with a bounded side — the sanctioned
    shape), and no unpartitioned Window over an unbounded input (the
    r7-verdict single-task-sort gate; see
    testing/planaudit.py for the bounded shapes and the justified
    allowlist)."""
    import contextlib
    import io

    from kafkastreamsproject_spark.testing.planaudit import (
        ALLOWED_UNBOUNDED_GLOBAL_WINDOW,
        global_window_findings,
    )

    name, df = shadow
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "CartesianProduct" not in buf.getvalue(), name

    unbounded = [f for f in global_window_findings(df) if f == "unbounded"]
    if name in ALLOWED_UNBOUNDED_GLOBAL_WINDOW:
        from kafkastreamsproject_spark.testing.planaudit import (
            global_window_bound_violations,
        )

        assert unbounded, (
            f"{name} no longer plans an unbounded global window — remove "
            "its stale ALLOWED_UNBOUNDED_GLOBAL_WINDOW entry"
        )
        kind, _reason = ALLOWED_UNBOUNDED_GLOBAL_WINDOW[name]
        assert not global_window_bound_violations(df, kind)
    else:
        assert not unbounded, (
            f"{name} plans {len(unbounded)} unpartitioned Window(s) over "
            "an unbounded input — re-plan via operators/topk.py or "
            "operators/prefixscan.py, or justify an allowlist entry"
        )


def test_shadow_query(spark, sf_dir, shadow):
    name, df = shadow
    built = dataclasses.replace(_SHADOW[name], spark=lambda *_: df)
    run_compare(spark, built, sf_dir)
