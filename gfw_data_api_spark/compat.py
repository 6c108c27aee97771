"""PySpark compatibility shims.

PySpark 4.1 cannot collect ``YearMonthIntervalType`` values —
``YearMonthIntervalType.fromInternal`` raises ``[NOT_IMPLEMENTED]``
(the JVM side stores them as a month count; only ``DayTimeIntervalType``
got a Python twin, ``datetime.timedelta``). The dialect emits
``make_ym_interval(...)`` for PG ``make_interval(years => ..,
months => ..)`` (reference surface: pass-through scalar functions,
``app/routes/datasets/queries.py``), so a bare-projected year-month
interval must survive ``.collect()``: patch ``fromInternal`` to wrap
the month count in :class:`YearMonthInterval`, which the download
serializer (``operators.downloads._interval_to_pg_text``) renders in
PG's text style ('1 year 2 mons').

The patch is value-adding only — no behavior changes for any other
type, and consumed forms (``ts + make_interval(...)``) never hit it.
"""

from __future__ import annotations

from pyspark.sql.types import YearMonthIntervalType


class YearMonthInterval:
    """A collected PG year-month interval: a signed total month count."""

    __slots__ = ("months",)

    def __init__(self, months: int):
        self.months = int(months)

    def __eq__(self, other):
        if isinstance(other, YearMonthInterval):
            return self.months == other.months
        if isinstance(other, int):
            return self.months == other
        return NotImplemented

    def __hash__(self):
        return hash(("YearMonthInterval", self.months))

    def __repr__(self):
        return f"YearMonthInterval(months={self.months})"


def _ym_from_internal(self, obj):  # noqa: ANN001 - pyspark signature
    if obj is None:
        return None
    return YearMonthInterval(obj)


def install() -> None:
    """Idempotently patch YearMonthIntervalType.fromInternal."""
    if getattr(YearMonthIntervalType.fromInternal, "_gfw_compat", False):
        return
    _ym_from_internal._gfw_compat = True
    YearMonthIntervalType.fromInternal = _ym_from_internal
