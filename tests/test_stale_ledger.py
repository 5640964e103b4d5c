"""ARM the staleness ledger (round-8 verdict item 1).

Raw `stale_rows.py --fail` cannot gate the suite mid-round: any code
change legitimately stales its queries until the NEXT driver artifact
lands, so the suite would go red on every edit by design. The invariant
that CAN hold at every commit — and is exactly what "staleness never
silently accumulates" means — is SCHEDULING: every stale or
never-sampled query must sit inside the driver-sampled head (the first
50 registry entries), so the next driver round is guaranteed to refresh
it. A stale row NOT in the head is the silent-accumulation failure mode
this test makes loud.

`--fail` itself remains the round-boundary check: run
`python tools/stale_rows.py --fail` right after committing a round's
CORRECTNESS artifact — at that instant the tree is unchanged since the
driver ran, so zero stale is achievable and required.

This is a pure-AST/git computation (no Spark session), but it walks
every plans module against every artifact snapshot — seconds, not
minutes.
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "tools"))
sys.path.insert(0, str(ROOT))

import stale_rows as S


def test_every_stale_or_never_row_is_scheduled_in_the_driver_head():
    led = S.ledger()
    unscheduled_cap = 50
    from social_and_media_data_ingestion_spark.plans.priority import (
        PRIORITY_HEAD,
    )

    head = set(PRIORITY_HEAD[:unscheduled_cap])
    assert len(PRIORITY_HEAD) <= unscheduled_cap, (
        f"PRIORITY_HEAD has {len(PRIORITY_HEAD)} entries but the driver "
        f"samples only the first {unscheduled_cap} registry rows — the "
        "overflow would silently never be sampled"
    )
    unscheduled = [q for q in led["stale"] + led["never"] if q not in head]
    assert not unscheduled, (
        "stale/never-sampled queries missing from PRIORITY_HEAD — the "
        f"next driver round will not refresh them: {unscheduled}. Either "
        "add them to the head (plans/priority.py) or revert the edit "
        "that staled them."
    )


def test_head_names_resolve_in_the_registry():
    """A typo'd head entry silently burns a driver slot (the registry
    reorder skips unknown names) — pin that every head name resolves."""
    from social_and_media_data_ingestion_spark.plans.priority import (
        PRIORITY_HEAD,
    )
    from social_and_media_data_ingestion_spark.plans.queries import registry

    reg = registry()
    missing = [n for n in PRIORITY_HEAD if n not in reg]
    assert not missing, f"PRIORITY_HEAD names not in registry: {missing}"
    assert len(set(PRIORITY_HEAD)) == len(PRIORITY_HEAD), "duplicate head rows"
