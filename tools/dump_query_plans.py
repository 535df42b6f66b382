"""Write the explain("formatted") output of each named query (default:
the bench HEADLINE set) at the given sf_dir under plans/<round>/.

The tag names the round directory: "rNN_<suffix>" writes
plans/rNN/<query>_<suffix>.txt and a bare "rNN" writes plans/rNN/<query>.txt.
Any other tag keeps the layout from before round directories:
plans/r14/<query>_<tag>.txt.

Usage: python tools/dump_query_plans.py <tag> [sf_dir] [query ...]
"""
from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_location(tag: str) -> tuple[str, str | None]:
    """(round directory, file suffix) for a tag: "r15_before" →
    ("r15", "before"), "r15" → ("r15", None), "adhoc" → ("r14", "adhoc")."""
    m = re.fullmatch(r"(r\d+)(?:_(.+))?", tag)
    return (m.group(1), m.group(2)) if m else ("r14", tag)


def main() -> int:
    tag = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    import __spark_entry__ as e
    from bench import HEADLINE
    from etl_school_spark.session import get_spark

    spark = get_spark("dump-query-plans")
    qs = e.queries()
    names = sys.argv[3:] or [n for n in HEADLINE if n in qs]
    round_dir, file_tag = plan_location(tag)
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", round_dir,
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        qe = df._jdf.queryExecution()
        formatted = qe.explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        formatted = re.sub(r"Location: \S+", "Location: <sf_dir>", formatted)
        path = os.path.join(out_dir, f"{name}_{file_tag}.txt" if file_tag else f"{name}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} @ {sf_dir} — explain('formatted'), tag={tag}\n")
            fh.write(formatted.rstrip() + "\n")
        print(f"wrote {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
