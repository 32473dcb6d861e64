"""Automated staleness guarantee for the driver rotation window.

The grading driver hard-verifies only the first 50 registry queries per
round (``plans/registry.py`` VERIFICATION-COVERAGE POLICY). The rotation
policy promises every registered query a green driver-oracle row at
least every two rounds. Until this test existed, that promise depended
on a human remembering to run ``tools/rotate_registry.py`` and paste the
output — this test makes the promise self-enforcing:

* every query whose last green row is OLDER than the newest
  CORRECTNESS round must sit inside the current ``DRIVER_PRIORITY``
  window (so the upcoming driver run refreshes it, capping staleness at
  two rounds);
* newly registered queries with no row at all count as maximally stale
  and must be in the window too;
* the window itself must be well-formed (<= 50 names, all registered,
  no duplicates).

Deliberately breakable: deleting any round-(N-1) entry from
``DRIVER_PRIORITY`` fails the first assertion.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), os.pardir, "tools"))

import rotate_registry  # noqa: E402

from retail_sales_data_pipeline_spark.plans.registry import (  # noqa: E402
    DRIVER_PRIORITY,
    ROUND_FRESH_RESERVE,
    all_oracle_sql,
    all_queries,
)

WINDOW = rotate_registry.WINDOW

# The round whose CORRECTNESS history the current DRIVER_PRIORITY was
# rotated from. Bump this in the same commit as the re-pasted rotation
# each round. Capping here (like test_oracle_parity's window pin) keeps
# the test meaningful after the driver writes the NEXT round's
# CORRECTNESS file — without the cap, every query verified by that very
# window would count stale the moment its new row lands.
ROTATION_BASIS_ROUND = 14


def _last_green() -> tuple[int, dict[str, int]]:
    hist = rotate_registry.history(max_round=ROTATION_BASIS_ROUND)
    assert hist, "no CORRECTNESS_r*.json found — run from the repo root"
    latest = max(hist)
    last_green: dict[str, int] = {}
    for rnd in sorted(hist):
        for name, row in hist[rnd].items():
            if rotate_registry.green(row):
                last_green[name] = rnd
    return latest, last_green


def test_window_well_formed():
    names = set(all_queries())
    assert len(DRIVER_PRIORITY) <= WINDOW, (
        f"DRIVER_PRIORITY has {len(DRIVER_PRIORITY)} entries; the driver "
        f"only verifies the first {WINDOW} — extras are dead weight"
    )
    assert len(set(DRIVER_PRIORITY)) == len(DRIVER_PRIORITY), "duplicate entries"
    unknown = [q for q in DRIVER_PRIORITY if q not in names]
    assert not unknown, f"DRIVER_PRIORITY names not in registry: {unknown}"


def test_stale_queries_are_in_driver_window():
    """Every query not green in the NEWEST round must be queued for the next.

    If this fails after registering a new query, re-run
    ``python tools/rotate_registry.py`` and paste the output into
    ``plans/registry.py``.
    """
    latest, last_green = _last_green()
    window = set(DRIVER_PRIORITY[:WINDOW])
    stale = [q for q in all_queries() if last_green.get(q, -1) < latest]
    assert len(stale) <= WINDOW, (
        f"{len(stale)} stale queries exceed the {WINDOW}-slot window — the "
        "two-round staleness guarantee is unsatisfiable; shrink the registry "
        "or split the rotation"
    )
    missing = [q for q in stale if q not in window]
    # The freshness reserve (VERDICT r12 missing #3) may displace up to
    # len(reserve) least-stale members when a reserved query is not
    # itself stale — those displaced members get a one-round staleness
    # extension in exchange for same-round evidence on new surface.
    displacing = [q for q in ROUND_FRESH_RESERVE if q in window and q not in stale]
    assert len(missing) <= len(displacing), (
        f"stale queries (last green < r{latest}) missing from "
        f"DRIVER_PRIORITY: {missing} — run tools/rotate_registry.py "
        f"(only {len(displacing)} reserve displacement(s) allowed)"
    )


def test_round_fresh_reserve_seated_in_window():
    """Queries strengthened in the round being shipped must sit in THAT
    round's driver window, so the flagship's oracle evidence lands in the
    driver's own CORRECTNESS file rather than only the judge's re-drive
    (VERDICT r12 missing #3)."""
    names = set(all_queries())
    window = set(DRIVER_PRIORITY[:WINDOW])
    unknown = [q for q in ROUND_FRESH_RESERVE if q not in names]
    assert not unknown, f"reserve names not in registry: {unknown}"
    unseated = [q for q in ROUND_FRESH_RESERVE if q not in window]
    assert not unseated, (
        f"round-strengthened queries missing from DRIVER_PRIORITY: "
        f"{unseated} — re-run tools/rotate_registry.py (it force-seats "
        f"ROUND_FRESH_RESERVE) and re-paste"
    )


def test_union_coverage_has_no_never_green():
    """All registered queries have had at least one green driver row."""
    _, last_green = _last_green()
    never = [q for q in all_queries() if q not in last_green]
    window = set(DRIVER_PRIORITY[:WINDOW])
    # A brand-new query is allowed to be never-green only while queued.
    unqueued = [q for q in never if q not in window]
    assert not unqueued, f"never-green queries not queued for a row: {unqueued}"


def test_every_query_has_oracle_or_documented_rows_only():
    """Registry invariant: oracle twins exist for the full surface."""
    queries = all_queries()
    oracles = all_oracle_sql()
    missing = [q for q in queries if q not in oracles]
    assert not missing, f"queries without oracle SQL: {missing}"


def test_bench_headline_names_all_registered():
    """bench.py silently skips HEADLINE names missing from the registry
    (`n in queries` filter) — a rename would shrink the bench total and
    read as a perf win. Pin that every headline query resolves."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), os.pardir, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    names = set(all_queries())
    missing = [n for n in bench.HEADLINE if n not in names]
    assert not missing, f"bench HEADLINE names not in registry: {missing}"


def test_bench_settledness_gate():
    """r12 verdict missing #4: the cold-cache band must be flagged
    MECHANICALLY (inflated_band / re-run), not by PLANS.md prose. Pin
    the gate's thresholds: the r12 driver artifact's own probe set
    (spread 0.761) must trip it; a settled probe set must not."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), os.pardir, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    r12 = {  # the artifact that motivated the gate
        "calibration_spread": 0.761,
        "calibration_probes": [0.719, 0.743, 0.801, 1.102, 1.48],
        "value": 36.1,
    }
    settled = {
        "calibration_spread": 0.21,
        "calibration_probes": [0.71, 0.74, 0.80, 0.88, 0.92],
        "value": 40.0,
    }
    ratio_trip = {  # tight spread but a >2x probe ratio still trips
        "calibration_spread": 0.39,
        "calibration_probes": [0.3, 0.31, 0.33, 0.6, 0.69],
        "value": 33.0,
    }
    assert bench._unsettled(r12)
    assert not bench._unsettled(settled)
    assert bench._unsettled(ratio_trip)
    # representative pick: settled beats unsettled even when the
    # unsettled attempt's spread (or total) is better (a gate-tripped
    # cold run must not outrank the settled re-run it triggered)
    assert bench._representative([ratio_trip, settled]) == 1
    assert bench._representative([settled, r12]) == 0
    # among settled attempts the LOWER suite total is representative:
    # the first r13 pair slipped the probe gates entirely (spread
    # 0.379) while the suite ran 1.88x — value, not spread, is the
    # ambient-pollution signal between settled attempts
    inflated_settled = {
        "calibration_spread": 0.1,
        "calibration_probes": [0.7, 0.72, 0.75, 0.78, 0.8],
        "value": 67.8,
    }
    assert bench._representative([inflated_settled, settled]) == 1
    # r13 review finding: a raw-ratio-tripped attempt is UNSETTLED
    # even with tight probes — otherwise the uniformly-inflated run
    # outranks the settle re-run it triggered whenever the re-run
    # trips a probe gate on a machine still reclaiming, and gets
    # published with inflated_band: false. Between two unsettled
    # attempts the lower suite total wins.
    raw_trip = dict(inflated_settled, raw_ratio_tripped=True)
    assert bench._unsettled(raw_trip)
    recovering = {
        "calibration_spread": 0.45,  # past the spread gate
        "calibration_probes": [0.7, 0.75, 0.8, 1.0, 1.15],
        "value": 45.4,
        "raw_ratio_tripped": False,
    }
    assert bench._unsettled(recovering)
    assert bench._representative([raw_trip, recovering]) == 1
    # r13 verdict next #3: the raw-ratio gate is SYMMETRIC — an
    # anomalously FAST band (raw ratio < 1/1.4) is as suspect as a
    # slow one, else the gate can only ever select totals downward
    # vs the prior round (a selection bias the r13 judge flagged)
    assert bench._raw_ratio_outside_band(1.5)
    assert bench._raw_ratio_outside_band(0.6)
    assert not bench._raw_ratio_outside_band(1.0)
    assert not bench._raw_ratio_outside_band(0.75)
    assert not bench._raw_ratio_outside_band(1.39)


def test_bench_reproduced_shift_label():
    """A shift that REPRODUCES — both attempts trip the raw-ratio gate
    on the same side, pass the probe gates, and their pooled probes
    agree within the spread gate — is published as reproduced_shift,
    not inflated_band: a genuine >1.4x speedup trips both attempts."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), os.pardir, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    def tripped(ratio, probes, value=20.0):
        return {
            "calibration_spread": round(probes[-1] - probes[0], 3),
            "calibration_probes": probes,
            "value": value,
            "raw_ratio_tripped": True,
            "_vs_prior": {"raw_ratio": ratio},
        }

    fast = [0.7, 0.72, 0.75, 0.78, 0.8]
    assert bench._reproduced_shift([tripped(0.6, fast), tripped(0.62, fast, 20.4)])
    assert bench._reproduced_shift([tripped(1.6, fast), tripped(1.7, fast)])
    assert not bench._reproduced_shift([tripped(0.6, fast)])  # one attempt
    assert not bench._reproduced_shift([tripped(0.6, fast), tripped(1.6, fast)])
    assert not bench._reproduced_shift(  # the re-run's probes drifted apart
        [tripped(0.6, fast), tripped(0.6, [1.2, 1.22, 1.25, 1.28, 1.3])]
    )
    assert not bench._reproduced_shift(  # a probe gate tripped
        [tripped(0.6, fast), tripped(0.6, [0.3, 0.31, 0.33, 0.6, 0.69])]
    )
    assert not bench._reproduced_shift(
        [tripped(0.6, fast), dict(tripped(0.9, fast), raw_ratio_tripped=False)]
    )
