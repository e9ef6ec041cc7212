"""Regenerate the physical-plan evidence behind PLANS.md: dump
`.explain("formatted")` for every registry query to plans/ so a reviewer
can diff plan shapes across rounds (``--detail``: the bench detail set
only). tests/test_plan_lint.py lints a fresh dump of the same plans.

Usage: python tools/dump_plans.py [--detail] [sf_dir] [out_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clockpipe_spark.queries import all_queries
from clockpipe_spark.session import get_spark

DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def dump_plans(spark, sf_dir: str, out_dir: str, names: list[str] | None = None) -> None:
    """Write each named registry query's formatted plan (every query
    when ``names`` is None) to ``out_dir/<name>.txt``."""
    os.makedirs(out_dir, exist_ok=True)
    queries = all_queries()
    for name in sorted(queries) if names is None else names:
        df = queries[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {out_dir}/{name}.txt")


def main() -> None:
    # flags out before positionals (ADVICE r16: `dump_plans.py --detail`
    # used to parse '--detail' as sf_dir and fail every load)
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if len(args) > 0 else DEFAULT_SF_DIR
    out_dir = args[1] if len(args) > 1 else "plans"
    spark = get_spark("plan-dump", master="local[4]", shuffle_partitions=4)
    names = None
    if "--detail" in sys.argv:
        from bench import EXTRA_DETAIL, HEADLINE

        names = list(HEADLINE + EXTRA_DETAIL)
    dump_plans(spark, sf_dir, out_dir, names)


if __name__ == "__main__":
    main()
