"""Registry/bench consistency: every lifecycle-family ``queries()`` entry
is timed by ``bench.py`` (the oracle-parity harness) or carries a written
reason why not."""

from __future__ import annotations

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_lifecycle_family_entry_is_benched_or_excused():
    """Structural gate for the r11/r12 'shipped but not benched' defect
    class: every registered query matching bench.LIFECYCLE_FAMILY_PATTERN
    must be in the bench HEADLINE, or carry an explicit rationale in
    bench.LIFECYCLE_BENCH_EXCLUDED.  The exclusion list itself is kept
    honest: every name must be registered, must NOT also be headlined,
    and must name its headlined cost twin in the rationale."""
    import sys

    sys.path.insert(0, ROOT)
    import bench
    import __spark_entry__ as entry

    family = {
        q
        for q in entry.queries()
        if re.search(bench.LIFECYCLE_FAMILY_PATTERN, q)
    }
    headlined = set(bench.HEADLINE)
    excused = set(bench.LIFECYCLE_BENCH_EXCLUDED)
    missing = sorted(family - headlined - excused)
    assert not missing, (
        f"lifecycle-family entries neither benched nor excused: {missing} — "
        "add to bench.HEADLINE (and LIFECYCLE_QUERIES) or record a "
        "rationale in bench.LIFECYCLE_BENCH_EXCLUDED"
    )
    assert not (excused & headlined), sorted(excused & headlined)
    assert not (excused - set(entry.queries())), sorted(
        excused - set(entry.queries())
    )
    for name, why in bench.LIFECYCLE_BENCH_EXCLUDED.items():
        assert len(why) > 40, f"{name}: rationale too thin"
    # headlined lifecycle entries must also be in the like-for-like split
    assert bench.LIFECYCLE_QUERIES <= headlined

