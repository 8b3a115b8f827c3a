"""Identifier functions.

The reference generates a fresh random ``CHAR(38)`` UUID per inserted row
(/root/reference/README.md:19). Random UUIDs fight Spark's execution model:
task retries and speculative execution would mint different values for the
same logical row, re-runs are not idempotent, and differential testing is
impossible. Engine policy (SURVEY.md §1.2, §4): UUIDs are **derived
deterministically from the natural key**; a caller who truly wants the
reference's random UUIDs can use Spark's own ``uuid()``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def deterministic_uuid(*cols: Column | str, namespace: str = "") -> Column:
    """UUID-formatted md5 of the natural key columns.

    Deterministic, collision-resistant for ETL purposes, and exactly
    reproducible in ANSI SQL (``md5`` is available in DuckDB/Postgres/MySQL),
    which keeps the oracle check byte-exact. Layout is the standard
    8-4-4-4-12 grouping of the 32 hex chars.
    """
    key = F.concat_ws("|", F.lit(namespace), *[F.col(c) if isinstance(c, str) else c for c in cols])
    h = F.md5(key)
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )


def deterministic_uuid_sql(cols_sql: str, namespace: str = "") -> str:
    """The ANSI-SQL twin of :func:`deterministic_uuid` (same bytes out).

    ``cols_sql`` is a comma-separated column expression list, e.g.
    ``"c_custkey, c_name"``.
    """
    key = f"concat_ws('|', '{namespace}', {cols_sql})"
    h = f"md5({key})"
    return (
        "concat_ws('-', "
        f"substring({h}, 1, 8), substring({h}, 9, 4), substring({h}, 13, 4), "
        f"substring({h}, 17, 4), substring({h}, 21, 12))"
    )


# OpenMRS's patient-identifier check-digit scheme (public
# LuhnModNIdentifierValidator): base-30 charset without the visually
# ambiguous B/I/O/Q/S/Z. The reference migrates National ID / Birth
# Certificate identifiers with a generated-ID fallback
# (/root/reference/README.md:13-15); generated identifiers in an OpenMRS
# destination carry this check digit.
MOD30_CHARSET = "0123456789ACDEFGHJKLMNPRTUVWXY"


def _luhn_terms(id_col: Column, double_odd_positions: bool) -> Column:
    """Sum of Luhn mod-N terms over ``id_col``, processed right-to-left.

    Position i (0-based from the RIGHT) is doubled when i is even
    (check-digit generation over the bare id) or odd (validation over an
    id whose rightmost char IS the check digit). The digit-sum of a
    doubled value 2v < 2N is ``2v div N + 2v mod N``; undoubled v < N
    satisfies the same identity (v div N = 0), so one formula covers
    both. Everything is row-local HOF arithmetic — exact integers, no
    UDF, reproducible in any engine with list ops.
    """
    n = len(MOD30_CHARSET)
    # split("") yields [""] and instr(cs, "") is 1, so empty elements must
    # be filtered or an empty id silently checksums like "0"
    chars = F.reverse(
        F.filter(F.split(F.upper(id_col), "(?!$)"), lambda c: c != F.lit(""))
    )
    vals = F.transform(chars, lambda c: F.instr(F.lit(MOD30_CHARSET), c) - 1)
    parity = 0 if not double_odd_positions else 1
    doubled = F.zip_with(
        vals,
        F.sequence(F.lit(0), F.size(chars) - 1),
        lambda v, i: F.when(i % 2 == F.lit(parity), v * 2).otherwise(v),
    )
    return F.aggregate(
        doubled,
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.floor(x / n).cast("long") + (x % n).cast("long"),
    )


def _has_invalid_char(id_col: Column) -> Column:
    """True when any character falls outside ``MOD30_CHARSET`` (or the id is
    empty) — the OpenMRS validator treats that as unverifiable, not as
    arithmetic input."""
    chars = F.filter(
        F.split(F.upper(id_col), "(?!$)"), lambda c: c != F.lit("")
    )
    return (F.size(chars) == 0) | F.exists(
        chars, lambda c: F.instr(F.lit(MOD30_CHARSET), c) == 0
    )


def luhn_check_digit(id_col: Column | str) -> Column:
    """The Luhn mod-30 check CHARACTER for a bare identifier (the char a
    generated OpenMRS identifier appends). NULL when the identifier
    contains out-of-charset characters (unverifiable beats garbage
    arithmetic)."""
    col = F.col(id_col) if isinstance(id_col, str) else id_col
    n = len(MOD30_CHARSET)
    total = _luhn_terms(col, double_odd_positions=False)
    check = (F.lit(n) - (total % n)) % n
    return F.when(
        ~_has_invalid_char(col),
        F.substring(F.lit(MOD30_CHARSET), (check + 1).cast("int"), 1),
    )


def luhn_valid(id_col: Column | str) -> Column:
    """True iff ``id_col``'s rightmost character is a correct Luhn mod-N
    check digit for the rest — the destination-side validation gate a
    migration runs on every inbound identifier. False (not an error) for
    out-of-charset, empty, or single-character identifiers (a lone check
    digit of an empty payload technically checksums, but the OpenMRS
    validator's >= 2 length floor is the right contract)."""
    col = F.col(id_col) if isinstance(id_col, str) else id_col
    n = len(MOD30_CHARSET)
    total = _luhn_terms(col, double_odd_positions=True)
    too_short = F.length(F.coalesce(col, F.lit(""))) < 2
    return F.when(
        _has_invalid_char(col) | too_short, F.lit(False)
    ).otherwise((total % n) == 0)
