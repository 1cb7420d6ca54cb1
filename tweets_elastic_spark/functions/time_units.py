"""Time units and the bucket grid, shared by every interval surface.

Callers: the ``date_histogram``, ``auto_date_histogram`` and ``rate``
aggregations (plans/aggs.py, and through ``date_histogram`` the rollup
in rollup.py), ES|QL span arithmetic, ``BUCKET``, ``DATE_TRUNC`` and
``DATE_DIFF`` (plans/esql.py), ES SQL's ``HISTOGRAM`` (plans/essql.py)
and EQL's ``maxspan`` (plans/eql.py). Each front-end keeps its own
surface syntax (``15m``, ``15 minutes``, ``INTERVAL 15 MINUTE``) and its
own result format; what they share is here:

* ``unit_of``: one table from every accepted spelling to a canonical
  unit, Spark's ``date_trunc``/``timestampadd`` name: ``h``, ``hour``,
  ``HOURS`` → ``HOUR``. Spellings are case-insensitive, except ES's
  ``M`` (month), which differs from ``m`` (minute) by case alone.
* ``SECONDS``: a unit's fixed width. Month, quarter and year have none.
* ``read_compact``: ES's compact ``<n><code>`` time value (``30s``,
  ``1M``) → ``(n, unit)``.
* ``bucket``: the start of the bucket a value falls in. A number width
  gives ``floor(v / w) * w`` as DOUBLE. A unit of a day or less gives
  the fixed-width grid on the UTC epoch, in whole seconds (bucket keys
  have seconds resolution, so milliseconds are refused). Week, month,
  quarter and year are calendar units: ``date_trunc``, weeks starting on
  Monday, and only a count of 1, since ``2 months`` has no fixed width.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# canonical unit → its spellings; the first is ES's compact code
_SPELLINGS = {
    "MILLISECOND": ("ms", "millisecond", "milliseconds"),
    "SECOND": ("s", "sec", "second", "seconds"),
    "MINUTE": ("m", "min", "minute", "minutes"),
    "HOUR": ("h", "hour", "hours"),
    "DAY": ("d", "day", "days"),
    "WEEK": ("w", "week", "weeks"),
    "MONTH": ("M", "mo", "month", "months"),
    "QUARTER": ("q", "quarter", "quarters"),
    "YEAR": ("y", "year", "years"),
}
_UNITS = {s: u for u, spellings in _SPELLINGS.items() for s in spellings}
_CODES = {spellings[0]: u for u, spellings in _SPELLINGS.items()}

SECONDS = {
    "MILLISECOND": 0.001, "SECOND": 1, "MINUTE": 60, "HOUR": 60 * 60,
    "DAY": 24 * 60 * 60, "WEEK": 7 * 24 * 60 * 60,
}
CALENDAR = frozenset({"WEEK", "MONTH", "QUARTER", "YEAR"})


def unit_of(spelling: str) -> str | None:
    """A unit spelling → its canonical unit, or None if it is not one."""
    return _UNITS.get(spelling) or _UNITS.get(spelling.lower())


def read_compact(text: str) -> tuple[int, str] | None:
    """ES's compact time value ``<n><code>`` (``30s``, ``15m``, ``1M``,
    ``500ms``) → ``(n, unit)``, or None if ``text`` is not one."""
    m = re.fullmatch(r"(\d+)([a-zA-Z]+)", str(text))
    if m is None or m.group(2) not in _CODES:
        return None
    return int(m.group(1)), _CODES[m.group(2)]


def bucket(src: Column, n, unit: str | None) -> Column:
    """The start of the bucket of width ``n`` ``unit``s that ``src``
    falls in; ``unit`` None makes ``n`` a number width."""
    if n <= 0:
        raise ValueError(f"a bucket width must be positive, got {n}")
    if unit is None:
        w = float(n)
        return (F.floor(src / F.lit(w)) * F.lit(w)).cast("double")
    if unit in CALENDAR:
        if n != 1:
            raise ValueError(
                f"a calendar {unit.lower()} bucket takes a count of 1, "
                f"got {n} (no fixed width exists)"
            )
        return F.date_trunc(unit.lower(), src)
    if unit == "MILLISECOND":
        raise ValueError(
            "sub-second buckets are not supported (bucket keys have "
            "seconds resolution)"
        )
    w = n * SECONDS[unit]
    return F.timestamp_seconds(
        F.floor(F.unix_timestamp(src) / F.lit(w)) * F.lit(w)
    )
