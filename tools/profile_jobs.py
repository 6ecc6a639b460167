#!/usr/bin/env python
"""Per-operation Spark job/stage/task accounting for the bench paths.

Wraps each bench.py micro-benchmark once and reports how many Spark
jobs, stages and tasks it launched plus wall time — the decomposition
that tells driver-coordination overhead (#jobs x per-job floor) apart
from real data work.  Job counts are contention-independent, so this
can run on a busy box; wall numbers are indicative only.

Usage: python tools/profile_jobs.py [op ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from firebolt_cdc_lambda_spark.session import get_spark  # noqa: E402
from firebolt_cdc_lambda_spark.corpus import ALL_QUERIES  # noqa: E402


def snapshot(spark):
    store = spark._jsparkSession.sparkContext().statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        out.append((j.jobId(), j.numTasks(), j.stageIds().size()))
    return out


def report(spark, name, fn):
    before = {j[0] for j in snapshot(spark)}
    t0 = time.time()
    fn()
    dt = time.time() - t0
    after = snapshot(spark)
    new = [j for j in after if j[0] not in before]
    njobs = len(new)
    ntasks = sum(j[1] for j in new)
    nstages = sum(j[2] for j in new)
    print(f"{name:32s} wall={dt:7.2f}s jobs={njobs:4d} "
          f"stages={nstages:4d} tasks={ntasks:5d}")
    return njobs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="fcls-profile", extra_conf={
        "spark.sql.files.maxPartitionBytes": "16m",
        # keep the full job history for counting
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    only = set(sys.argv[1:])

    def want(n):
        return not only or n in only

    # warm-up (JVM/codegen spin-up must not land on the first op)
    bench.run_query(spark, "q1_pricing_summary", sf_dir, reps=1)

    for q in bench.BENCH_QUERIES:
        if want(q):
            report(spark, f"query:{q}",
                   lambda q=q: bench.run_query(spark, q, sf_dir, reps=1))
    if want("cdc_merge"):
        report(spark, "cdc_merge small+heavy (5+5reps)",
               lambda: bench.bench_cdc_pipeline(spark, sf_dir))
    if want("ivf_probe"):
        report(spark, "ivf_probe (3 reps+build)",
               lambda: bench.bench_ivf_probe(spark, sf_dir))
    if want("lsh_probe"):
        report(spark, "lsh_probe (3 reps+build)",
               lambda: bench.bench_lsh_probe(spark, sf_dir))
    if want("pq_probe"):
        report(spark, "pq_probe (3 reps+build)",
               lambda: bench.bench_pq_probe(spark, sf_dir))
    if want("point_lookup"):
        report(spark, "point_lookup (5 reps+build)",
               lambda: bench.bench_point_lookup(spark, sf_dir))
    if want("bloom_lookup"):
        report(spark, "bloom_lookup (5 reps+build)",
               lambda: bench.bench_bloom_lookup(spark, sf_dir))
    if want("stats_scan"):
        report(spark, "stats_scan (5 reps+build)",
               lambda: bench.bench_stats_scan(spark, sf_dir))
    if want("compact"):
        report(spark, "compact (3 reps+build)",
               lambda: bench.bench_compact(spark, sf_dir))
    if want("joinview"):
        report(spark, "joinview fact+dim (5+5reps)",
               lambda: bench.bench_joinview(spark, sf_dir))
    if want("mor_upsert"):
        report(spark, "mor_upsert (5 reps+fold)",
               lambda: bench.bench_mor_upsert(spark, sf_dir))
    if want("mor_versioned"):
        report(spark, "mor_versioned (5r+tt+rs+cl)",
               lambda: bench.bench_mor_versioned(spark, sf_dir))
    if want("fleet_sweep"):
        report(spark, "fleet_sweep (5 reps)",
               lambda: bench.bench_fleet_sweep(spark, sf_dir))
    if want("stream"):
        report(spark, "stream per-file (10 files)",
               lambda: bench.bench_stream_throughput(spark, sf_dir))
    if want("stream_catchup"):
        report(spark, "stream catchup (10 files)",
               lambda: bench.bench_stream_throughput(
                   spark, sf_dir, max_files_per_trigger=10))
    if want("neardup"):
        report(spark, "neardup stream (6 files)",
               lambda: bench.bench_neardup_stream(spark, sf_dir))
    if want("fleet"):
        report(spark, "fleet run_once (8x6 files)",
               lambda: bench.bench_fleet_throughput(spark, sf_dir))


if __name__ == "__main__":
    main()
