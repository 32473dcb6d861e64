"""Mirror of the driver's correctness gate: every registered query with
an oracle twin must match DuckDB exactly at sf0.001."""

from __future__ import annotations

import pytest

from retail_sales_data_pipeline_spark.plans import all_oracle_sql, all_queries

from .oracle import assert_query_matches_oracle

ORACLE_NAMES = sorted(set(all_queries()) & set(all_oracle_sql()))


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, sf_dir, name):
    assert_query_matches_oracle(spark, sf_dir, name)


def test_every_query_declares_oracle_policy():
    """Every query either has an oracle or is explicitly rows-only."""
    import importlib

    from retail_sales_data_pipeline_spark.plans import registry

    missing = set(all_queries()) - set(all_oracle_sql())
    # rows-only queries must be documented in their module's ROWS_ONLY set
    allowed: set[str] = set()
    for mod_name in registry._MODULES:
        try:
            mod = importlib.import_module(
                f"retail_sales_data_pipeline_spark.plans.{mod_name}"
            )
        except ImportError:
            continue
        allowed |= getattr(mod, "ROWS_ONLY", set())
    assert missing <= allowed, f"undeclared rows-only queries: {missing - allowed}"


def test_driver_window_matches_rotation_policy():
    """The grading driver oracle-checks the first 50 registry entries.

    Pin that ``registry.DRIVER_PRIORITY`` is exactly the window the
    rotation policy (tools/rotate_registry.py) computes from the
    CORRECTNESS history available when round 8 started (rounds <= 7 —
    capped so the driver writing CORRECTNESS_r08.json later doesn't
    invalidate the pin; bump alongside ROTATION_BASIS_ROUND in
    test_registry_freshness.py each rotation). A query registered
    mid-round counts as never-checked and must be rotated into the
    window: re-run ``python tools/rotate_registry.py`` and re-paste
    when this fails.
    """
    import importlib.util
    import os

    from retail_sales_data_pipeline_spark.plans import registry

    tool_path = os.path.join(
        os.path.dirname(__file__), "..", "tools", "rotate_registry.py"
    )
    spec = importlib.util.spec_from_file_location("rotate_registry", tool_path)
    rotate = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rotate)

    names = list(all_queries().keys())
    assert len(registry.DRIVER_PRIORITY) == 50
    assert names[: len(registry.DRIVER_PRIORITY)] == registry.DRIVER_PRIORITY
    from tests.test_registry_freshness import ROTATION_BASIS_ROUND

    # the freshness reserve is part of the policy: rotate_registry
    # force-seats ROUND_FRESH_RESERVE (the queries whose
    # implementation changed this round), so the expectation must too
    expected = rotate.compute_window(
        max_round=ROTATION_BASIS_ROUND,
        reserve=tuple(registry.ROUND_FRESH_RESERVE),
    )
    assert registry.DRIVER_PRIORITY == expected, (
        "DRIVER_PRIORITY is stale vs the rotation policy — run "
        "`python tools/rotate_registry.py` and paste the output"
    )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.schema) > 0
