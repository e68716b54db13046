"""Where does a query's time go? For each named query, runs ITERS
(default 3) builds and executions through ``measure.measure`` (the
bench's timed region) and reports the last one:

- build_s / exec_s / total_s: driver-side build (including any eager
  probe and checkpoint jobs it runs), execution with the rows discarded
  on the executors, and their sum (comparable to a bench rep)
- jobs, Exchanges and scans of the final physical plan
- task_s / gc_s / shuffle_mb: executor run time, GC time and shuffle
  writes of those jobs
- then one line per job, from the status store: its id, wall duration,
  gap since the previous job ended (driver-side build time and serial
  scheduling overhead; negative when jobs overlap) and its description,
  which names the operator that launched it (``bis:<query>:<operator>``)

Usage: python tools/profile_query.py name1,name2,... [iters]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from beacon_indexer_spark.measure import job_table, measure  # noqa: E402
from beacon_indexer_spark.plans.queries import QUERIES  # noqa: E402
from beacon_indexer_spark.session import get_spark  # noqa: E402

DEFAULT = (
    "table_counts,top_users,pruned_scan_topk,"
    "dedup_cluster_size_dist,corpus_dup_rate_by_length,"
    "embedding_top_component,dedup_detector_agreement,"
    "doc_length_psi_drift,corpus_minhash_k_sweep,customer_spend_migration"
)


def main() -> None:
    names = (sys.argv[1] if len(sys.argv) > 1 else DEFAULT).split(",")
    iters = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = get_spark(app_name="bis-profile", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    print(f"{'query':42s} {'build':>7s} {'exec':>7s} {'total':>7s} {'jobs':>5s} "
          f"{'exch':>5s} {'scans':>5s} {'task':>7s} {'gc':>6s} {'shuf_mb':>8s}")
    for name in names:
        for _ in range(iters):
            m = measure(spark, lambda: QUERIES[name](spark, sf_dir), name)
        jobs = job_table(spark, m.first_job, m.end_job)
        print(f"{name:42s} {m.build_s:7.3f} {m.exec_s:7.3f} {m.total_s:7.3f} "
              f"{m.jobs:5d} {m.exchanges:5d} {m.scans:5d} "
              f"{sum(j.task_s for j in jobs):7.3f} {sum(j.gc_s for j in jobs):6.3f} "
              f"{sum(j.shuffle_bytes for j in jobs) / 1e6:8.2f}")
        prev_end = None
        for j in jobs:
            gap = (j.start_ms - prev_end) / 1000.0 if prev_end else 0.0
            prev_end = j.end_ms
            print(f"  job {j.id:5d}  dur={j.duration_s:7.3f}s  gap={gap:7.3f}s  "
                  f"{j.description}")
        sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
