"""The two-tier test split (r11 verdict item 3).

The full suite is ~41 minutes single-process — past the driver's pytest
budget (VERIFY_r11 captured 71% of a clean run, then timed out), which
turned the per-round safety net into a permanent "unknown".  pytest-xdist
is not available in this environment, so the suite is split into tiers
instead:

- **quick tier** (the default for a plain ``pytest tests/``): the
  registry pin, the oracle type lint, plan-shape assertions, unit and
  contract tests — almost all sub-~3 s.  This is what the driver's gate
  runs.
- **slow tier** (``@_mark_slow``): the hypothesis fuzz sweeps, the
  cross-engine equivalence replays, property tests, and multi-second
  end-to-end compositions — the builder's own floor, run every round
  via ``SPARK_GRAFT_FULL_TESTS=1 pytest tests/`` (or ``-m slow`` for
  just the floor) and recorded in OPTIMIZATION_r{N}.md.

Selection lives in conftest.pytest_collection_modifyitems; tests are
marked with the plain pytest marker ``slow`` so explicit ``-m``
expressions behave normally.
"""

import pytest

_mark_slow = pytest.mark.slow
