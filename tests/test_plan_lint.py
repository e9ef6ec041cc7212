"""Lint the registry's physical plans for scale red flags.

The test dumps every registry query's plan with tools/dump_plans.py's
loop and mechanically screens the dump (CartesianProduct anywhere;
unexplained BroadcastNestedLoopJoin outside the 1-row-aggregate and
allowlisted bounded-broadcast shapes).  A plan regression that would
not survive a 100x scale-up fails here instead of waiting for a human
audit.
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tools"))

from dump_plans import DEFAULT_SF_DIR, dump_plans
from lint_plans import lint


def test_committed_plans_pass_lint(spark, tmp_path, capsys):
    dump_plans(spark, DEFAULT_SF_DIR, str(tmp_path))
    capsys.readouterr()
    rc = lint(str(tmp_path))
    out = capsys.readouterr().out
    assert rc == 0, f"plan lint failures:\n{out}"


# -- counting-gate unit tests (r9): the original linter matched
# "NodeName (" substrings that never occur in formatted explain output
# ("(45) BroadcastNestedLoopJoin" / "BroadcastNestedLoopJoin Inner
# BuildRight (45)"), so every BNLJ count was silently zero, and a
# single "Keys: []" exempted a whole plan (ADVICE r8).  These synthetic
# plans pin the fixed behavior.

_LEGIT = """\
+- BroadcastNestedLoopJoin Inner BuildRight (5)

(3) HashAggregate
Keys: []
Functions [1]: [count(1)]

(4) HashAggregate
Keys: []

(5) BroadcastNestedLoopJoin
Join type: Inner
"""

_MIXED = """\
+- BroadcastNestedLoopJoin Inner BuildRight (5)
+- BroadcastNestedLoopJoin Inner BuildRight (9)
+- BroadcastNestedLoopJoin Inner BuildRight (12)

(3) HashAggregate
Keys: []

(5) BroadcastNestedLoopJoin
(9) BroadcastNestedLoopJoin
(12) BroadcastNestedLoopJoin
"""

_CART = """\
(7) CartesianProduct
Join condition: None
"""


def _lint_text(tmp_path, name, text, capsys):
    (tmp_path / f"{name}.txt").write_text(text)
    rc = lint(str(tmp_path))
    return rc, capsys.readouterr().out


def test_bnlj_actually_counted(tmp_path, capsys):
    rc, out = _lint_text(tmp_path, "some_query", _MIXED, capsys)
    assert rc == 1
    assert "BroadcastNestedLoopJoin x3" in out


def test_one_zero_key_agg_does_not_exempt_extra_bnljs(tmp_path, capsys):
    # 3 BNLJs vs 1 zero-key aggregate: the old whole-plan boolean
    # passed this; the count gate must fail it
    rc, out = _lint_text(tmp_path, "some_query", _MIXED, capsys)
    assert rc == 1


def test_covered_bnlj_passes(tmp_path, capsys):
    rc, _ = _lint_text(tmp_path, "some_query", _LEGIT, capsys)
    assert rc == 0


def test_cartesian_always_fails(tmp_path, capsys):
    rc, out = _lint_text(tmp_path, "some_query", _CART, capsys)
    assert rc == 1
    assert "CartesianProduct" in out
