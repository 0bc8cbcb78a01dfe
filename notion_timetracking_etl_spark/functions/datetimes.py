"""Datetime scalar functions (SURVEY §2.8 F24–F36).

The reference carries ISO-8601 UTC strings and renders America/Los_Angeles
calendar labels via Intl formatters. Here instants are proper TimestampType
(session tz UTC) and LA-local rendering goes through ``from_utc_timestamp``.

JS-isms reproduced exactly:
- ``Math.round`` is half-UP (0.5 → 1), unlike Spark's ``bround`` — expressed as
  ``floor(x + 0.5)`` so every engine agrees (F25/F26).
- negative durations clamp to 0 while the quality layer separately flags them
  (F25; reference: canon/timeslice.ts:219-229 vs quality/timeslices.ts:122-141).
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F

LA_TZ = "America/Los_Angeles"

# OLE Automation epoch 1899-12-30T00:00:00Z in unix millis (reference:
# derive/index.ts:18). 25569 days before 1970-01-01.
_OLE_EPOCH_MS = -2209161600000


def parse_iso(col: Column) -> Column:
    """F24 — ISO-8601 string → timestamp; unparseable → null (Date.parse NaN).

    try_to_timestamp: ANSI mode must not abort the job on one malformed
    string — the reference nulls it and the quality layer reports it.
    """
    return F.try_to_timestamp(col)


def round_half_up(col: Column) -> Column:
    """JS ``Math.round`` semantics: half always rounds up (toward +inf)."""
    return F.floor(col + F.lit(0.5))


def duration_seconds(start: Column, end: Column, clamp: bool = True) -> Column:
    """F25 — ``max(0, round((end-start)/1000))`` (reference: canon/timeslice.ts:219-229).

    Null if either bound is null. ``clamp=False`` exposes the raw signed value
    (used by the NEGATIVE_DURATION quality rule before clamping).
    """
    millis = (F.unix_millis(end) - F.unix_millis(start)).cast("double")
    rounded = round_half_up(millis / 1000.0).cast("long")
    if clamp:
        rounded = F.greatest(F.lit(0).cast("long"), rounded)
    return F.when(start.isNotNull() & end.isNotNull(), rounded)


def duration_minutes(start: Column, end: Column) -> Column:
    """F26 — ``round(duration_seconds/60)`` half-up (reference: derive/index.ts:164-165)."""
    secs = duration_seconds(start, end, clamp=True)
    return round_half_up(secs.cast("double") / 60.0).cast("long")


def ole_serial(ts: Column) -> Column:
    """F27 — OLE Automation date serial: float days since 1899-12-30 UTC
    (reference: derive/index.ts:309-318)."""
    return (F.unix_millis(ts) - F.lit(_OLE_EPOCH_MS)).cast("double") / F.lit(86400000.0)


def iso_utc_millis(ts: Column) -> Column:
    """F28 — canonical UTC ISO rendering ``yyyy-MM-ddTHH:mm:ss.SSSZ``
    (reference: derive/index.ts:320-329)."""
    return F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")


def la_date_iso(ts: Column, tz: str = LA_TZ) -> Column:
    """F29 — LA-local calendar date rendered ``YYYY-MM-DDT00:00:00.000Z``
    (reference: derive/index.ts:366-376,645-657)."""
    local_day = F.date_format(F.from_utc_timestamp(ts, tz), "yyyy-MM-dd")
    return F.concat(local_day, F.lit("T00:00:00.000Z"))


def utc_date_stamp(now: Column) -> Column:
    """F31 — UTC ``YYYY-MM-DD`` partition stamp (reference: lib/time.ts:1-3)."""
    return F.date_format(now, "yyyy-MM-dd")


def la_snapshot_label(ts: Column, tz: str = LA_TZ) -> Column:
    """F33 — sv-SE style ``yyyy-MM-dd HH:mm`` in LA wall-clock
    (reference: derive/index.ts:35-43,659-666)."""
    return F.date_format(F.from_utc_timestamp(ts, tz), "yyyy-MM-dd HH:mm")


def hour_floor(ts: Column) -> Column:
    """F34 — floor to the hour (reference: derive/index.ts:434-435)."""
    return F.date_trunc("hour", ts)


def date_key(ts: Column, tz: str | None = None) -> Column:
    """F35 — int ``yyyy*10000 + mm*100 + dd`` (reference: derive/index.ts:405,620-624).

    With ``tz``, the key is for the tz-local calendar day of the instant.
    """
    local = F.from_utc_timestamp(ts, tz) if tz else ts
    return F.date_format(local, "yyyyMMdd").cast("int")
