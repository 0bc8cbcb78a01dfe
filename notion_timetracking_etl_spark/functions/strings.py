"""String scalar functions (SURVEY §2.8 F13–F23).

Pure ``Column`` builders over Spark built-ins — JVM-side, codegen-friendly, no
Python UDFs. Each cites the reference behavior it reproduces.
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F

_UUID_RE = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
_HEX32_RE = "[0-9a-f]{32}"


def normalize_nullable_string(col: Column) -> Column:
    """F15 — trim; empty string → null (reference: canon/rules.ts:15-21)."""
    return F.nullif(F.trim(col), F.lit(""))


def stable_entity_id(prefix: str, raw_id: Column) -> Column:
    """F13 — ``{prefix}_`` + lowercase(id minus hyphens); null → ``{prefix}_unknown``
    (reference: canon/rules.ts:3-9)."""
    cleaned = F.lower(F.regexp_replace(raw_id.cast("string"), "-", ""))
    return F.concat(F.lit(prefix + "_"), F.coalesce(cleaned, F.lit("unknown")))


def sort_key(*parts: Column) -> Column:
    """F17/O6 — null→'', trim, join with '|', lowercase (reference: canon/rules.ts:34-39)."""
    safe = [F.coalesce(F.trim(p.cast("string")), F.lit("")) for p in parts]
    return F.lower(F.concat_ws("|", *safe))


def pad2(col: Column) -> Column:
    """F18 — zero-pad integer to width 2 (reference: derive/index.ts:705-707)."""
    return F.lpad(col.cast("long").cast("string"), 2, "0")


def stage_display_label(stage_number: Column, label: Column) -> Column:
    """F19 — ``'NN. Label'``; label falls back to the stage key
    (reference: derive/index.ts:203-205)."""
    return F.concat(pad2(stage_number), F.lit(". "), F.coalesce(label, F.lit("key_unknown")))


def sha256_hex(col: Column) -> Column:
    """F20 — sha256 hex digest (reference: lib/hash.ts:3-5)."""
    return F.sha2(col, 256)


def issue_id(run_date: Column, dataset: Column, entity_id: Column, rule: Column) -> Column:
    """F21 — sha256 of ``runDate|dataset|entityId|rule``
    (reference: quality/timeslices.ts:163)."""
    return F.sha2(F.concat_ws("|", run_date, dataset, entity_id, rule), 256)


def color_index(key: Column, palette_size: int = 36) -> Column:
    """F23 — sha256(key) → first 8 hex chars → int → mod palette size
    (reference: derive/index.ts:709-714)."""
    return (F.conv(F.substring(F.sha2(key, 256), 1, 8), 16, 10).cast("long") % palette_size)


def to_uuid_maybe(raw: Column) -> Column:
    """F16 — find a hyphenated UUID in the lowercased input, else a 32-hex run
    re-hyphenated 8-4-4-4-12, else null (reference: derive/index.ts:345-364)."""
    lowered = F.lower(raw.cast("string"))
    hyphenated = F.regexp_extract(lowered, _UUID_RE, 0)
    hex32 = F.regexp_extract(lowered, _HEX32_RE, 0)
    rehyphenated = F.concat_ws(
        "-",
        F.substring(hex32, 1, 8),
        F.substring(hex32, 9, 4),
        F.substring(hex32, 13, 4),
        F.substring(hex32, 17, 4),
        F.substring(hex32, 21, 12),
    )
    return (
        F.when(hyphenated != "", hyphenated)
        .when(hex32 != "", rehyphenated)
        .otherwise(F.lit(None).cast("string"))
    )
