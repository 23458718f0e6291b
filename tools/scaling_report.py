"""Scaling evidence: time key queries at sf0.001/0.01/0.1 and print
the runtime ratio per 10x data growth.  A well-planned query grows
sub-linearly-to-linearly (fixed overhead amortizes; shuffles stay
partial-aggregated); anything super-linear is a plan bug.

Usage: python tools/scaling_report.py [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_QUERIES = [
    "tpch_q1",
    "hourly_event_summary",
    "category_performance",
    "top_customers",
    "sessionization",
    "minhash_near_dup",
    "similarity_topk",
    "doc_fingerprints",
]

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
# optional extra scale steps, comma-separated (e.g.
# SPARK_GRAFT_EXTRA_SF=/tmp/sf1,/tmp/sf10 from tools/make_sfN.py)
if os.environ.get("SPARK_GRAFT_EXTRA_SF"):
    SFS.extend(p for p in os.environ["SPARK_GRAFT_EXTRA_SF"].split(",") if p)


def main() -> None:
    only = sys.argv[1:] or DEFAULT_QUERIES

    import __spark_entry__ as entrymod
    from spark_streaming_postgres_lab2_spark.session import build_session

    spark = build_session()
    qs = entrymod.queries()
    qs["tpch_q1"](spark, SFS[0]).write.format("noop").mode("overwrite").save()  # warm

    labels = [sf.rstrip("/").rsplit("/", 1)[-1] for sf in SFS]
    header = f"{'query':26s}" + "".join(f" {lab:>9s}" for lab in labels)
    header += "".join(f" {'step x' + str(i + 1):>9s}" for i in range(len(SFS) - 1))
    print(header + "   (each step = 10x data; ratio ~<=10x is linear-or-better)")
    def drop_session_state() -> None:
        # localCheckpoint blocks and cached tables accumulate across
        # measurements in this shared session; at sf10 the leftover
        # block-manager state from one heavy query inflates the NEXT
        # one several-fold via GC/eviction thrash (r13 measurement:
        # kmeans_cluster_profile 67.8s in-session vs 32.0s fresh-JVM
        # at sf10; ann_ivfpq_adc_audit 160.5s vs 137.4s).  Dropping
        # persistent RDDs + cached relations between queries keeps
        # each measurement's JVM state comparable to a fresh session.
        spark.catalog.clearCache()
        jsc = spark.sparkContext._jsc.sc()
        rdds = jsc.getPersistentRDDs()
        it = rdds.iterator()
        while it.hasNext():
            # blocking removal so async eviction never overlaps the
            # next measurement (r13 advice)
            it.next()._2().unpersist(True)

    for name in only:
        times = []
        for sf in SFS:
            drop_session_state()
            t0 = time.time()
            qs[name](spark, sf).write.format("noop").mode("overwrite").save()
            times.append(time.time() - t0)
        row = f"{name:26s}" + "".join(f" {t:8.2f}s" for t in times)
        for i in range(len(times) - 1):
            ratio = times[i + 1] / times[i] if times[i] else float("nan")
            row += f" {ratio:8.1f}x"
        print(row)


if __name__ == "__main__":
    main()
