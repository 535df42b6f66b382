"""Full-registry scaling sweep: run EVERY registered query once (cold,
noop sink) against a scale directory and print per-query wall times plus
a total — the repo's standard sf1 spot-check (SCALING.md records each
round's results).

This sweep is the measurement that gates physical-form changes: sf0.1
benching alone accepted two r8 candidate "optimizations" that the sf1
run rejected (a groupBy-array pair expansion that never finished on
16k-member buckets, and an expression-side bigram pairing ~2.7x slower
once data dominated). Run it after any operator-shape change.

Usage: python tools/sweep_sf1.py [sf_dir] [query ...]
Extra positional args (r11) restrict the sweep to the named queries —
the targeted gate for a change that touches a known subset. The first
positional is treated as sf_dir only when it is an existing directory
that is not a registered query name (r12, ADVICE) — so
``sweep_sf1.py dedup_simhash`` is a targeted sweep at the default
directory, not an attempt to scan a directory named dedup_simhash.
Default sf_dir: .sf1 at the repo root (build it with tools/make_sf1.py).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    pos = sys.argv[1:]

    import __spark_entry__ as e
    from etl_school_spark.session import get_spark

    registry = e.queries()
    # r12 (ADVICE): `sweep_sf1.py dedup_simhash` — the natural targeted
    # invocation — used to consume the query name as sf_dir, so the
    # unknown-query guard never fired and the sweep ran ALL queries
    # against a nonexistent directory. A first positional is the scale
    # directory only when it is NOT a registered query name AND is an
    # existing directory; otherwise it is a query filter.
    if pos and pos[0] not in registry and os.path.isdir(pos[0]):
        sf_dir, only = pos[0], set(pos[1:])
    else:
        # everything is a query filter; a non-query non-directory first
        # positional lands in the unknown-query guard's loud error
        sf_dir, only = os.path.join(REPO, ".sf1"), set(pos)
    unknown = only - set(registry)
    if unknown:
        # a typo'd filter must not exit green having measured nothing
        # (r11 review fix) — checked before paying Spark startup
        print(f"ERROR: unknown queries: {sorted(unknown)}", file=sys.stderr)
        return 2

    spark = get_spark("etl-school-spark-sf1-sweep")
    spark.range(1000).count()  # JVM warm-up outside any query's clock
    out: dict[str, object] = {}
    for name, fn in registry.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            out[name] = round(time.time() - t0, 2)
        except Exception as ex:  # keep sweeping — errors are the headline
            out[name] = f"ERR {type(ex).__name__}: {str(ex)[:200]}"
        print(json.dumps({name: out[name]}), flush=True)
    errs = sum(1 for v in out.values() if isinstance(v, str))
    total = round(sum(v for v in out.values() if isinstance(v, float)), 1)
    print(json.dumps({"total": total, "errors": errs}), flush=True)
    print("TOTAL", total, "errors", errs, flush=True)
    return 1 if errs else 0


if __name__ == "__main__":
    raise SystemExit(main())
