"""Print a plan-quality report for every inventory query: join
strategies, shuffle counts, pushdown, pruned read schemas.
Usage: python tools/plan_report.py [sf_dir] [name ...]"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from spark_streaming_postgres_lab2_spark.plans import checks
    from spark_streaming_postgres_lab2_spark.session import build_session

    spark = build_session()
    sc = spark.sparkContext
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        group = f"planprobe-{name}"
        try:
            # job group set BEFORE construction: iterative operators
            # (pagerank, CC) run jobs during build/execute that the
            # final plan's lineage no longer shows (localCheckpoint
            # cuts); xstg counts the shuffle stages of EVERY job the
            # query scheduled, so a loop-side shuffle regression is
            # visible (VERDICT r5 item 4 -- PLANS_r05 read pagerank as
            # xchg=0)
            sc.setJobGroup(group, name)
            df = fn(spark, sf_dir)
            # execute FIRST (the span counter runs the final plan on
            # the executors): the join/exchange counters then reflect
            # what AQE actually ran, not the static pre-AQE plan -- an
            # SMJ the runtime converted to broadcast no longer counts
            codegen = checks.wholestage_codegen_spans(df)
            plan = checks.physical_plan(df)
            xstg = checks.executed_shuffle_stages(spark, group)
            print(
                f"{name:24s} bhj={checks.broadcast_join_count(df)} "
                f"smj={checks.sort_merge_join_count(df)} "
                f"xchg={checks.shuffle_count(df)} "
                f"xstg={xstg} "
                f"codegen={codegen} "
                f"pushed={'Y' if 'PushedFilters: [' in plan and 'PushedFilters: []' not in plan else '-'}"
            )
            if only:
                print(plan)
        except Exception as e:  # noqa: BLE001
            print(f"{name:24s} ERROR {e}")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)


if __name__ == "__main__":
    main()
