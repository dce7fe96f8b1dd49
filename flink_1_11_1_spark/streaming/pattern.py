"""Interval parsing shared by the streaming operators (``within``,
watermark delays, state TTLs, join bounds): ``"30 minutes"``,
``"1 hour"`` or a plain number of seconds."""

from __future__ import annotations

import re

_UNITS = {
    "second": 1,
    "seconds": 1,
    "minute": 60,
    "minutes": 60,
    "hour": 3600,
    "hours": 3600,
    "day": 86400,
    "days": 86400,
}


def _parse_interval(text: str | int) -> int:
    if isinstance(text, int):
        return text
    m = re.fullmatch(r"\s*(\d+)\s+(\w+)\s*", text)
    if not m or m.group(2).lower() not in _UNITS:
        raise ValueError(
            f"unsupported interval {text!r}; use e.g. '30 minutes', '1 hour'"
        )
    return int(m.group(1)) * _UNITS[m.group(2).lower()]
