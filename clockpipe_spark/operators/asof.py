"""As-of join: for each left row, the most recent right row at-or-before
(backward) or the earliest right row at-or-after (forward) its
timestamp, per key — the canonical time-series lookup Spark lacks as a
built-in, with an optional match tolerance.

Spark-first implementation: instead of a non-equi join (which Catalyst
would execute as a broadcast-nested-loop), union the two sides and run
one window pass — ``last(right_value, ignorenulls)`` over an
unbounded-preceding frame (backward) or ``first(...)`` over an
unbounded-following frame (forward), ordered by event time with right
rows sorting toward the left row on ties (>= / <= semantics, matching
DuckDB/QuestDB ASOF JOIN). Cost: one shuffle on the key, O(n log n)
per key — scales linearly with the union size instead of |L|×|R| per
key.

Tolerance is exact: the nearest matching right row IS the carried one
(any other candidate is strictly farther), so nulling carried values
when the carried gap exceeds the tolerance equals re-running the join
with the tolerance folded into the predicate — no second pass needed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: Sequence[str],
    on: str,
    value_cols: Sequence[str],
    suffix: str = "_asof",
    direction: str = "backward",
    tolerance_us: int | None = None,
) -> DataFrame:
    """Left as-of join: every left row gains ``<value_col><suffix>`` =
    that column from the latest right row with right.on <= left.on
    (direction="backward") or the earliest right row with
    right.on >= left.on (direction="forward") and equal `by` keys
    (NULL if none).

    Both inputs must share the `by` and `on` column names; `value_cols`
    are right-side payload columns (absent from left or ignored there).
    With ``tolerance_us`` set (requires a timestamp `on`), matches
    farther than that many microseconds from the left row are nulled.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    by = list(by)
    lcols = left.columns
    # ties: the right row must fall inside the left row's window frame,
    # so right sorts FIRST for backward (preceding frame) and LAST-but-
    # adjacent for forward (following frame) — i.e. left first.
    l_side, r_side = (1, 0) if direction == "backward" else (0, 1)
    # selectExpr strings throughout (r21, guide §1.2 driver boundary):
    # the Column-by-Column build issued ~800 py4j round trips per call
    # (~1.2 s profiled, 80% of the 3 asof queries' build wall); the same
    # trees parse JVM-side in a handful of calls. Equivalence pinned by
    # tools/plan_equiv (optimizedPlan match modulo expr ids) in
    # tests/test_asof.py.
    q = "`{}`".format
    on_sql = q(on)
    on_type = right.schema[on].dataType.simpleString()
    struct_sql = "struct({})".format(", ".join(q(c) for c in lcols))
    # typed NULLs of the other side's columns are cast from the
    # DataType, not from a simpleString() type literal: a struct type
    # string does not parse back when a field name holds a space or a
    # colon (`my val` renders as struct<my val:...>)
    l_tagged = left.select(
        *[F.expr(q(c)) for c in by],
        F.expr(on_sql),
        F.expr(f"{l_side} AS __side"),
        F.expr(f"CAST(NULL AS {on_type}) AS __r_on"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}")
            for c in value_cols
        ],
        F.expr(f"{struct_sql} AS __l"),
    )
    r_tagged = right.selectExpr(
        *[q(c) for c in by],
        on_sql,
        f"{r_side} AS __side",
        f"{on_sql} AS __r_on",
        *[f"{q(c)} AS `__r_{c}`" for c in value_cols],
    ).withColumn("__l", F.lit(None).cast(l_tagged.schema["__l"].dataType))
    unioned = l_tagged.unionByName(r_tagged)
    over = (
        "OVER (PARTITION BY {p} ORDER BY {o} ASC, __side ASC "
        "ROWS BETWEEN {f})".format(
            p=", ".join(q(c) for c in by),
            o=on_sql,
            f=(
                "UNBOUNDED PRECEDING AND CURRENT ROW"
                if direction == "backward"
                else "CURRENT ROW AND UNBOUNDED FOLLOWING"
            ),
        )
    )
    fn = "last" if direction == "backward" else "first"
    carried = unioned.selectExpr(
        "__side",
        "__l",
        f"{fn}(__r_on, true) {over} AS __r_on",
        *[
            f"{fn}(`__r_{c}`, true) {over} AS `__r_{c}`"
            for c in value_cols
        ],
    )
    picked = carried.filter(F.col("__side") == F.lit(l_side))
    if tolerance_us is not None:
        l_on = f"unix_micros(__l.{on_sql})"
        r_on = "unix_micros(__r_on)"
        gap = (
            f"({l_on} - {r_on})"
            if direction == "backward"
            else f"({r_on} - {l_on})"
        )
        in_tol = f"(__r_on IS NOT NULL) AND ({gap} <= {int(tolerance_us)}L)"
        picked = picked.selectExpr(
            "__l",
            *[
                f"CASE WHEN {in_tol} THEN `__r_{c}` END AS `__r_{c}`"
                for c in value_cols
            ],
        )
    return picked.selectExpr(
        *[f"__l.{q(c)} AS {q(c)}" for c in lcols],
        *[f"`__r_{c}` AS {q(c + suffix)}" for c in value_cols],
    )
