"""Native Catalyst Column expressions for the S2 bit/token operations.

Everything here compiles to JVM-side whole-stage-codegen expressions — no
Python boundary — so Catalyst can constant-fold them, push filters through
them, and prune parquet row groups on them. Only the trig-heavy encode /
decode paths need the Arrow UDF kernels (`s2cell_spark.functions.udfs`).

Cell IDs live in ``LongType`` carrying the S2 uint64 bits two's-complement
(SURVEY.md §1.2): faces 4-5 are negative longs. All masking/truncation is
bit-identical on int64; ORDERING is not — use :func:`cell_id_sortable` for
range comparisons and range partitioning.

ANSI-safety: PySpark 4 enables ``spark.sql.ansi.enabled`` by default, so the
classic ``id & -id`` lowest-set-bit trick would overflow on LONG_MIN. Every
expression below guards that single value (LONG_MIN is never a valid cell
ID — its trailing bit position 63 is odd) with a lazy CASE branch.

Reference parity: cell_id_to_token (s2cell/s2cell.py:552-580),
token_to_cell_id (:583-618), canonical token (:805-837), validity
(:844-909), level (:916-950), parent (:984-1038).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

LONG_MIN = -(2**63)
_TOKEN_RE = "^[0-9a-fA-F]{1,16}$"
# Python str.strip()'s exact whitespace set (chars where c.strip() == ''),
# as an explicit Java regex class: Java \s is ASCII-only ([ \t\n\x0B\f\r])
# and misses NBSP & co.; even (?U)\s misses \x1c-\x1f, which Python strips.
_PY_WS_CLASS = (
    "[\\t-\\r\\x1c-\\x1f \\x85\\xa0\\u1680\\u2000-\\u200a"
    "\\u2028\\u2029\\u202f\\u205f\\u3000]"
)


def _lsb(cid: Column) -> Column:
    """Lowest set bit of a cell ID (``id & -id``), LONG_MIN-safe."""
    return F.when(cid == F.lit(LONG_MIN), F.lit(LONG_MIN)).otherwise(
        cid.bitwiseAND(-cid)
    )


def _level_lsb(level: Column | int) -> Column:
    """Trailing-one-bit mask for a level: ``1 << (2*(30-level))``."""
    if isinstance(level, int):
        return F.lit(1 << (2 * (30 - level)))
    bits = (F.lit(2) * (F.lit(30) - level)).cast("int")
    return F.call_function("shiftleft", F.lit(1).cast("long"), bits)


def cell_id_is_valid(cid: Column) -> Column:
    """face <= 5 AND nonzero AND trailing 1 at an even bit position
    (s2cell/s2cell.py:844-879). Pure codegen — usable as a pushed filter."""
    face_ok = F.shiftrightunsigned(cid, 61) <= F.lit(5)
    lsb_ok = _lsb(cid).bitwiseAND(F.lit(0x1555555555555555)) != F.lit(0)
    return (cid != F.lit(0)) & face_ok & lsb_ok


def cell_id_to_level(cid: Column) -> Column:
    """Level 0..30 from the trailing-one-bit position
    (s2cell/s2cell.py:916-950). Valid IDs have lsb = 2^(2k), k<=30, so
    log2(double(lsb)) is exact. Returns null for invalid IDs."""
    lsb_pos = F.log2(_lsb(cid).cast("double")).cast("int")
    level = (F.lit(30) - F.shiftright(lsb_pos, 1)).cast("int")
    return F.when(cell_id_is_valid(cid), level)


def cell_id_to_parent_cell_id(cid: Column, level: Column | int) -> Column:
    """Ancestor at `level` via bit truncation ``(id & -lsb) | lsb``
    (s2cell/s2cell.py:1035-1036). Null when the ID is invalid or `level`
    exceeds the ID's level (the reference raises ValueError there)."""
    lsb = _level_lsb(level)
    parent = cid.bitwiseAND(-lsb).bitwiseOR(lsb)
    lvl = F.lit(level) if isinstance(level, int) else level
    return F.when(
        cell_id_is_valid(cid)
        & (lvl >= F.lit(0))
        & (lvl <= cell_id_to_level(cid)),
        parent,
    )


def cell_id_to_parent_cell_id_unchecked(cid: Column, level: int) -> Column:
    """Ancestor at `level` WITHOUT the validity/level guards: the bare
    3-op truncation ``(id & -lsb) | lsb`` with a constant lsb.

    Use ONLY where the input is valid-by-construction at a level >=
    `level` (e.g. freshly encoded leaf cells): the checked form inlines
    the validity + log2-level machinery TWICE per call site, and in a
    fused whole-stage-codegen pipeline (encode stack + join probe +
    rollup key) that pushes the generated method past HotSpot's
    8000-bytecode JIT ceiling — the stage then runs INTERPRETED, ~7x
    slower end-to-end (measured on the throughput job; BENCH/MICRO.md).
    Bit-identical to cell_id_to_parent_cell_id on valid input.
    """
    lsb = F.lit(1 << (2 * (30 - level)))
    return cid.bitwiseAND(-lsb).bitwiseOR(lsb)


def cell_id_range_min(cid: Column) -> Column:
    """Smallest contained leaf ID: ``id - (lsb - 1)`` (same bits as C++
    S2CellId::range_min). Null for invalid IDs — the validity gate also
    keeps the arithmetic wraparound-free under ANSI mode (an invalid ID
    like LONG_MIN would otherwise evaluate LONG_MIN - 1 and throw)."""
    return F.when(cell_id_is_valid(cid), cid - (_lsb(cid) - F.lit(1)))


def cell_id_range_max(cid: Column) -> Column:
    """Largest contained leaf ID: ``id + (lsb - 1)``. Null when invalid
    (see range_min — same ANSI-overflow guard)."""
    return F.when(cell_id_is_valid(cid), cid + (_lsb(cid) - F.lit(1)))


def cell_id_sortable(cid: Column) -> Column:
    """Order-preserving int64 image of the uint64 cell ID (sign-bit flip,
    SURVEY.md §1.2). Use for ALL range comparisons / range partitioning;
    raw LongType misorders faces 4-5 below faces 0-3."""
    return cid.bitwiseXOR(F.lit(LONG_MIN))


def cell_id_to_token(cid: Column) -> Column:
    """16-char lowercase hex, trailing zeros stripped; 0 -> 'X'
    (s2cell/s2cell.py:552-580). Spark hex() is uppercase and drops leading
    zeros -> lower + lpad."""
    tok = F.regexp_replace(F.lpad(F.lower(F.hex(cid)), 16, "0"), "0+$", "")
    return F.when(cid == F.lit(0), F.lit("X")).otherwise(tok)


def token_to_cell_id(tok: Column) -> Column:
    """Token -> cell ID (s2cell/s2cell.py:583-618), natively: right-pad the
    stripped zeros to 16 hex chars, convert each 8-char half via conv()
    (fits in a non-negative long), recombine with a shift. 'x'/'X' -> 0.
    Null for malformed tokens (reference raises InvalidToken)."""
    padded = F.rpad(tok, 16, "0")
    hi = F.conv(F.substring(padded, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(padded, 9, 8), 16, 10).cast("long")
    cid = F.shiftleft(hi, 32).bitwiseOR(lo)
    return (
        F.when(tok.isin("x", "X"), F.lit(0).cast("long"))
        .when(tok.rlike(_TOKEN_RE), cid)
        .otherwise(F.lit(None).cast("long"))
    )


def token_is_valid(tok: Column) -> Column:
    """Hex-shape regex plus contained-cell-ID validity
    (s2cell/s2cell.py:882-909)."""
    return tok.rlike(_TOKEN_RE) & F.coalesce(
        cell_id_is_valid(token_to_cell_id(tok)), F.lit(False)
    )


def token_to_canonical_token(tok: Column) -> Column:
    """lower, strip surrounding whitespace, strip trailing '0's;
    ''/'x' -> 'X' (s2cell/s2cell.py:805-837). The reference uses
    ``str.strip()`` (all Unicode whitespace incl. NBSP and \\x1c-\\x1f) —
    ``F.trim`` strips only spaces and Java ``\\s`` only ASCII, so the
    strip uses the explicit Python-whitespace class (padded tokens must
    canonicalize identically to the reference/scalar API)."""
    stripped = F.regexp_replace(
        F.lower(tok), f"^{_PY_WS_CLASS}+|{_PY_WS_CLASS}+$", ""
    )
    canon = F.regexp_replace(stripped, "0+$", "")
    return F.when(canon.isin("", "x"), F.lit("X")).otherwise(canon)


def token_to_level(tok: Column) -> Column:
    """Level of a token; null when invalid (s2cell/s2cell.py:953-977)."""
    return cell_id_to_level(token_to_cell_id(tok))


def token_to_parent_token(tok: Column, level: Column | int) -> Column:
    """Parent token at `level` (s2cell/s2cell.py:1041-1069); tokens cannot
    be truncated textually — must round-trip through the cell ID."""
    return cell_id_to_token(
        cell_id_to_parent_cell_id(token_to_cell_id(tok), level)
    )
