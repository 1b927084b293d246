"""Plan-hygiene audit: for every queries() entry, summarize the
physical plan — join strategies, exchange count, pushed filters,
Python-UDF stages — so shuffle regressions are visible per round.

Usage: python tools/explain_audit.py [sf_dir] [name1,name2,...]

The invariants this audit exists to watch (no stray BNLJ/SMJ, zero
exchanges on narrow ops, pushdown reaching the scans, bounded
exchange counts) are pinned in tests/test_plans.py, which imports
``audit`` below — a plan regression fails pytest in-round instead of
waiting for an ad-hoc run of this tool.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# streaming queries execute on construction — skip in a static audit
SKIP = {"s8_stream_windowed", "s8_stream_sessionize"}


def plan_summary(plan: str) -> dict:
    return {
        "bhj": plan.count("BroadcastHashJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "smj": plan.count("SortMergeJoin"),
        "exch": plan.count("Exchange"),
        "pyarrow": plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
        "py_grouped": plan.count("FlatMapGroupsInPandas"),
        "pushed": sum(
            1
            for ln in plan.splitlines()
            if "PushedFilters" in ln and "PushedFilters: []" not in ln
        ),
    }


def audit(spark, sf_dir: str, only=None) -> dict:
    """name -> plan_summary dict, or the string "ERROR <type>" when
    the query can't even build its plan."""
    import __spark_entry__ as E

    out = {}
    for name, fn in E.queries().items():
        if name in SKIP or (only and name not in only):
            continue
        try:
            plan = (
                fn(spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception as ex:  # noqa: BLE001 — audit, report and go on
            out[name] = f"ERROR {type(ex).__name__}"
            continue
        out[name] = plan_summary(plan)
    return out


def main() -> int:
    from pdfspark.session import build_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    spark = build_session(master="local[4]", shuffle_partitions=4)
    if only:
        # a typo'd (or SKIP-filtered) name must not audit nothing and
        # exit 0 — that reads as "plans passed" when no plan was built
        import __spark_entry__ as E

        known = set(E.queries()) - SKIP
        unknown = only - known
        if unknown:
            print(f"unknown or skipped query names: {sorted(unknown)}")
            return 2
    rows = audit(spark, sf_dir, only)
    spark.stop()
    w = max((len(n) for n in rows), default=0)
    for name, s in rows.items():
        txt = s if isinstance(s, str) else " ".join(
            f"{k}={v}" for k, v in s.items()
        )
        print(f"{name:<{w}}  {txt}")
    bad = [n for n, s in rows.items() if isinstance(s, str)]
    print(f"\n{len(rows) - len(bad)}/{len(rows)} plans built; errors: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
