"""Time-zone name equivalence shared by the session-zone guards (the
Iceberg export's partition-value gate and the reader's literal
resolution) — one alias list, so 'Etc/UTC' vs 'UTC' never silently
disables pruning in one module while another treats them as equal."""

from __future__ import annotations

UTC_ALIASES = ("UTC", "Etc/UTC", "GMT", "Z", "+00:00", "GMT+00:00", "UTC+00:00")


def is_utcish(tz) -> bool:
    """True when the zone NAME denotes UTC (None is NOT utcish here —
    callers that treat 'unset' as zone-free check None themselves)."""
    return tz in UTC_ALIASES
