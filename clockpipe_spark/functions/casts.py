"""Value-cast semantics of the reference, as Catalyst column expressions.

The reference casts every replicated value through a target-type dispatch
(adapter/clickhouse.rs:126-158) whose per-type behaviors carry
correctness-critical quirks (SURVEY.md §1.3). Each function here builds a
*pure column expression* (the scalar pg casts as SQL strings) — JVM-side,
codegen-friendly, no Python UDFs — that reproduces one quirk exactly:

- integers: non-parsing text -> 0           (pgoutput.rs:82-89)
- reals:    non-parsing text -> 0.0         (pgoutput.rs:91-98)
- bools:    't'|'1'|'true' -> TRUE else F   (pgoutput.rs:157-163)
- datetimes: strip sub-second + offset      (pgoutput.rs:220-234)
- PG array literal '{a,b}' parsing          (pgoutput.rs:183-201)
- masked columns forced NULL                (adapter/mod.rs:183-185)
- ObjectId -> hex, BSON Binary -> base64    (mongodb.rs:381, 394-399)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The reference trims-then-parses (pgoutput.rs:82-98): Rust's str::trim
# strips the Unicode White_Space set below. Spark's F.trim strips ONLY
# ASCII space (0x20), and Spark's string->number casts trim their own
# Java set (all bytes <= 0x20 — wrongly including \x1c-\x1f, which Rust
# does NOT trim; the double cast even accepts '1.5d'/'1.5f' suffixes
# Rust rejects). So neither F.trim nor a bare try_cast is faithful:
# '\t1' must parse to 1 and '1\x1f' / '1.5d' must default to 0. The
# faithful shape — shared verbatim by the DuckDB oracles and the
# hypothesis test models — is one explicit Rust-set trim, then a strict
# ASCII grammar regex validated BEFORE the cast (r16, the whitespace
# fidelity fix).
_RUST_WS = (
    "\t\n\x0b\x0c\r \x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)
_RUST_TRIM_RE = "^[" + _RUST_WS + "]+|[" + _RUST_WS + "]+$"

# strict integer literal — Rust's str::parse::<i64> accepts only [+-]digits;
# '1.5' or '12abc' FAIL and default to 0 (pgoutput.rs:82-89).
_INT_RE = r"^[+-]?[0-9]+$"
# Rust's f64 grammar (f64::from_str): decimal literal with optional
# exponent, or case-insensitive inf/infinity/nan. ASCII-only — no
# underscore grouping, no hex, no type suffixes, no Unicode digits.
_F64_RE = (
    r"^[+-]?(([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?"
    r"|[iI][nN][fF]([iI][nN][iI][tT][yY])?|[nN][aA][nN])$"
)
# NaN spellings Rust's f64 grammar accepts but Spark's cast does not:
# Spark's special-literal fold recognizes case-insensitive 'nan' only
# UNSIGNED, so '-nan'/'+NAN' abort the ANSI cast (CAST_INVALID_INPUT,
# verified live — ADVICE r16 HIGH) while Rust f64::from_str and DuckDB
# TRY_CAST both yield NaN. Matched first and emitted as a NaN literal.
_NAN_RE = r"^[+-]?[nN][aA][nN]$"


# The scalar casts below are SQL strings, parsed JVM-side in one call:
# a Column builder of the same tree issued dozens of py4j round trips
# per call (~0.14 s each, profiled on cdc_cast_matrix). Callers embed
# them in selectExpr / F.expr.


def _sql_lit(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def rust_trim_sql(col_sql: str) -> str:
    """`str::trim` semantics: strip Rust's Unicode White_Space set from
    both ends (and nothing else — NOT \\x1c-\\x1f)."""
    return f"regexp_replace({col_sql}, {_sql_lit(_RUST_TRIM_RE)}, '')"


def pg_to_int_sql(col_sql: str) -> str:
    """Text -> integer with the reference's zero-default on parse failure.

    trim-then-parse like pgoutput.rs:82-89. DELIBERATE DIVERGENCE for
    strings in [2^63, 2^64): the reference validates with
    `parse::<i64>() || parse::<u64>()` and passes the TEXT through
    unchanged — typing is deferred to the eventual ClickHouse column
    (pgoutput.rs:84), so a u64-range string survives iff that column
    happens to be UInt64. Our output is a Spark `bigint` (int64), which
    has no representation for [2^63, 2^64), so those strings
    zero-default here along with everything else try_cast rejects —
    no Int64 representation exists in either engine for that range
    (ADVICE r18 low: a ClickHouse Int64 column typically REJECTS such
    text rather than zero-defaulting, so the divergence is ours to own,
    not an equivalence — it stays deliberate, documented, and
    boundary-fuzzed at 2^63/2^64-1/2^64). Strings
    beyond 2^64 are parse Errs in Rust too, so both engines agree
    there. Never aborts — hence try_cast on the already-regex-validated
    string (ADVICE r17 low: this docstring previously claimed all
    int64-overflowing strings are parse Errs in Rust; only >u64 ones
    are)."""
    s = rust_trim_sql(f"CAST({col_sql} AS STRING)")
    return (
        f"coalesce(CASE WHEN {s} RLIKE {_sql_lit(_INT_RE)}"
        f" THEN try_cast({s} AS BIGINT) END, 0)"
    )


def pg_to_real_sql(col_sql: str) -> str:
    """Text -> double; non-parsing text -> 0.0 (pgoutput.rs:91-98).

    The grammar regex (Rust's f64::from_str) gates the cast: Spark's
    own cast grammar is close but not identical (it trims \\x1c-\\x1f and
    accepts '1.5d'/'1.5f', both parse Errs in Rust). Out-of-range
    literals like '1e999' saturate to Infinity in both engines. Signed
    or case-variant NaN is special-cased FIRST — it passes the Rust
    grammar but aborts Spark's ANSI cast (ADVICE r16 HIGH) — and the
    remaining arm uses try_cast so this expression can never abort,
    mirroring pg_to_int_sql's never-abort shape (whose u64 divergence
    is documented there; no such issue here — f64::from_str saturates
    rather than overflows, matching Spark's double cast)."""
    s = rust_trim_sql(f"CAST({col_sql} AS STRING)")
    return (
        f"coalesce(CASE WHEN {s} RLIKE {_sql_lit(_NAN_RE)}"
        f" THEN CAST('NaN' AS DOUBLE)"
        f" WHEN {s} RLIKE {_sql_lit(_F64_RE)}"
        f" THEN try_cast({s} AS DOUBLE) END, CAST(0.0 AS DOUBLE))"
    )


def pg_bool_parse_sql(col_sql: str) -> str:
    """'t' | '1' | 'true' -> TRUE, anything else (including NULL and
    untrimmed ' t ') -> FALSE.

    Exact mirror of the reference: it only lowercases (no trim), and a
    NULL value routes through text_or("false") -> FALSE rather than
    propagating NULL (pgoutput.rs:157-163, parse_bool + to_bool)."""
    return (
        f"coalesce(lower(CAST({col_sql} AS STRING)) IN ('t', '1', 'true'),"
        " false)"
    )


def pg_datetime_trunc(col: Column) -> Column:
    """Normalize timestamps the way the reference does: drop fractional
    seconds (and, upstream, the UTC offset — the session is pinned UTC so
    offsets are already resolved). pgoutput.rs:220-234, tested 599-628."""
    return F.date_trunc("second", col)


def pg_array_parse(col: Column) -> Column:
    """Parse a PG array literal '{a,b,c}' into array<string>.

    Mirrors pgoutput.rs:183-193: strip braces, split on ','.
    Empty literal '{}' -> empty array.
    """
    inner = F.regexp_replace(F.regexp_replace(col, r"^\{", ""), r"\}$", "")
    return F.when(inner == "", F.array().cast("array<string>")).otherwise(
        F.split(inner, ",")
    )


def pg_string_array_parse(col: Column) -> Column:
    """Parse a quoted-string PG array literal '{"a","b,c"}'.

    Mirrors pgoutput.rs:195-201: strip braces, split on '","', strip the
    outer quotes. Like the reference, escaped quotes inside elements are
    NOT handled (tested pgoutput.rs:560-596) — a documented quirk we
    replicate for parity.
    """
    inner = F.regexp_replace(F.regexp_replace(col, r'^\{"', ""), r'"\}$', "")
    return F.when(col == "{}", F.array().cast("array<string>")).otherwise(
        F.split(inner, r'","')
    )


def mask_column(dtype: str) -> Column:
    """A masked column is forced to NULL of the target type *before* the
    cast matrix runs (adapter/mod.rs:183-185)."""
    return F.lit(None).cast(dtype)


def objectid_hex(col: Column) -> Column:
    """Mongo ObjectId bytes -> lowercase hex string (mongodb.rs:381)."""
    return F.lower(F.hex(col))


def binary_base64(col: Column) -> Column:
    """BSON Binary -> base64 string (mongodb.rs:394-399)."""
    return F.base64(col)


# ---------------------------------------------------------------------------
# BSON cast-table tail (adapter/mongodb.rs:355-514). The reference
# renders BSON values into ClickHouse literals with per-target match
# arms; each arm below is the equivalent pure column expression. The
# reference's to_array dispatches on the FIRST element's BSON type
# (mongodb.rs:446-449) — Spark arrays are schema-typed, so that dispatch
# happens once at inference time (cdc/mongo_schema.py first-type-wins)
# and each arm is its own expression here.


def mongo_decimal128(col: Column) -> Column:
    """Decimal128 participates in numeric casts via its decimal string
    rendering (mongodb.rs:359 to_integer, 368 to_real); a non-parsing
    value falls through to the zero-default `_` arm (361, 370)."""
    return F.coalesce(
        col.cast("string").try_cast("decimal(38,10)"),
        F.lit(0).cast("decimal(38,10)"),
    )


def mongo_epoch_seconds(ms: Column) -> Column:
    """BSON DateTime millis -> epoch seconds for to_date/to_datetime
    (mongodb.rs:408-431): Rust's i64 division truncates toward zero, so
    -1500 ms is -1 s, not floor's -2. Spark's % follows the dividend's
    sign, making (ms - ms % 1000) / 1000 the exact truncating division."""
    ms = ms.cast("bigint")
    return ((ms - ms % 1000) / 1000).cast("bigint")


def mongo_datetime_str(ms: Column) -> Column:
    """BSON DateTime millis -> '%Y-%m-%d %H:%M:%S' string, the to_string
    arm (mongodb.rs:382-388): chrono formats the millisecond-precise
    instant, which floors sub-second digits away."""
    return F.date_format(F.timestamp_millis(ms.cast("bigint")), "yyyy-MM-dd HH:mm:ss")


def mongo_timestamp_str(secs: Column) -> Column:
    """BSON Timestamp (epoch seconds) -> '%Y-%m-%d %H:%M:%S' string
    (to_string arm mongodb.rs:389-395 and to_time mongodb.rs:434-448)."""
    return F.date_format(F.timestamp_seconds(secs.cast("bigint")), "yyyy-MM-dd HH:mm:ss")


# Numeric grammars for the array arms. Inside a higher-order-function
# lambda Spark evaluates INTERPRETED (no whole-stage codegen), and an
# interpreted try_cast pays exception-handling per ELEMENT — measured
# 2.25 s vs 0.23 s for the same 300k-element workload at sf0.1 (r14
# shuffle-audit follow-up). A regex guard + plain cast is ~10x faster
# there AND matches the DuckDB oracle exactly (DuckDB TRY_CAST
# '2.5'->BIGINT ROUNDS to 3, so oracles already use the integral
# regex; Spark try_cast also silently accepted whitespace-padded ints
# the oracle's regex rejects — a latent cross-engine divergence this
# closes). Overflow guard (ADVICE r14 #2): a plain ANSI cast on an
# integral string past int64 ABORTS THE JOB — a sanitizing operator
# must degrade, not fail, on malformed input (the reference yields 0:
# as_i64().map_or("0", ..), mongodb.rs:449-456). <=18 digits always
# fits int64 and takes the fast plain-cast arm; the 19+-digit tail
# (unreachable for BSON-origin values, possible for other callers)
# takes a per-element try_cast — slow, but only on matched elements.
_INT_SAFE_RE = r"^[+-]?[0-9]{1,18}$"
_DBL_RE = r"^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?$"


def mongo_array_int(col: Column) -> Column:
    """Int32/Int64-headed array: each element as i64, non-parsing
    elements -> 0 (mongodb.rs:449-456 as_i64().map_or("0", ..));
    int64-overflowing integral strings also -> 0 (never abort)."""
    return F.transform(
        col,
        lambda x: F.when(x.rlike(_INT_SAFE_RE), x.cast("bigint"))
        .when(
            # length gate first: interpreted And short-circuits, so
            # short non-integral elements (the common junk) never pay
            # the second regex scan — without it this arm cost ~0.8 s
            # per 1.2M junk elements at sf0.1 (measured r15)
            (F.length(x) > 18) & x.rlike(_INT_RE),
            F.coalesce(x.try_cast("bigint"), F.lit(0)),
        )
        .otherwise(F.lit(0)),
    )


def mongo_array_double(col: Column) -> Column:
    """Double-headed array: each element as f64, non-parsing -> 0.0
    (mongodb.rs:457-464)."""
    return F.transform(
        col,
        lambda x: F.when(x.rlike(_DBL_RE), x.cast("double")).otherwise(
            F.lit(0.0)
        ),
    )


def mongo_array_string(col: Column) -> Column:
    """String-headed array: non-string elements render as ' ' — a single
    space, the reference's unwrap_or placeholder (mongodb.rs:465-481)."""
    return F.transform(col, lambda x: F.coalesce(x, F.lit(" ")))


def mongo_string_array(col: Column) -> Column:
    """to_string_array FILTERS non-string elements out (filter_map,
    mongodb.rs:484-494) instead of substituting a placeholder — the one
    behavioral difference from the string-headed to_array arm."""
    return F.filter(col, lambda x: x.isNotNull())


# SQL form of pg_datetime_trunc for selectExpr callers; both forms
# have registry callers.


def pg_datetime_trunc_sql(col_sql: str) -> str:
    return f"date_trunc('second', {col_sql})"
