#!/usr/bin/env python
"""List every Spark job (description, duration, tasks) fired by ONE
small-batch KeyedTable merge — the per-job decomposition behind the
cdc_merge_small_batch number.  Also covers lookup/bloom probes when
asked.

Usage: python tools/profile_merge_jobs.py [merge|mor|lookup|bloom|jvfact|jvdim|stream]
"""

from __future__ import annotations

import os
import sys
import tempfile
import shutil
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from firebolt_cdc_lambda_spark.session import get_spark  # noqa: E402
from firebolt_cdc_lambda_spark.corpus.base import load_table  # noqa: E402
from firebolt_cdc_lambda_spark.operators.merge import KeyedTable  # noqa: E402


def jobs_snapshot(spark):
    store = spark._jsparkSession.sparkContext().statusStore()
    jl = store.jobsList(None)
    out = {}
    for i in range(jl.size()):
        j = jl.apply(i)
        dur = None
        try:
            st = j.submissionTime()
            ct = j.completionTime()
            if st.isDefined() and ct.isDefined():
                dur = (ct.get().getTime() - st.get().getTime()) / 1000.0
        except Exception:
            pass
        name = j.name() or ""
        out[j.jobId()] = (dur, j.numTasks(), name[:110])
    return out


def show_new(spark, before, label):
    after = jobs_snapshot(spark)
    new = sorted(k for k in after if k not in before)
    print(f"== {label}: {len(new)} jobs ==")
    tot = 0.0
    for k in new:
        dur, ntasks, name = after[k]
        tot += dur or 0
        print(f"  job {k:4d} {dur if dur is not None else -1:7.3f}s "
              f"tasks={ntasks:4d}  {name}")
    print(f"  sum of job durations: {tot:.3f}s")
    return after


def main() -> None:
    what = sys.argv[1] if len(sys.argv) > 1 else "merge"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="fcls-merge-profile", extra_conf={
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.ui.retainedJobs": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    orders = load_table(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="prof_merge_")
    try:
        kt = KeyedTable(spark, f"{tmp}/orders", ["o_orderkey"],
                        num_buckets=64)
        kt.init(orders)
        (orders.where("o_orderkey % 5000 = 17")
         .withColumn("Op", F.lit("U"))
         .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
         .withColumn("load_timestamp", F.current_timestamp())
         .coalesce(1).write.parquet(f"{tmp}/cdc_small"))
        if what == "merge":
            kt.merge_raw_batch(spark.read.parquet(f"{tmp}/cdc_small"))  # warm
            before = jobs_snapshot(spark)
            t0 = time.time()
            kt.merge_raw_batch(spark.read.parquet(f"{tmp}/cdc_small"))
            wall = time.time() - t0
            show_new(spark, before, f"small merge wall={wall:.3f}s")
        elif what == "lookup":
            keys = [r[0] for r in orders.select("o_orderkey")
                    .orderBy("o_orderkey").limit(10).collect()]
            kt.lookup(keys).write.format("noop").mode("overwrite").save()
            before = jobs_snapshot(spark)
            t0 = time.time()
            kt.lookup(keys).write.format("noop").mode("overwrite").save()
            wall = time.time() - t0
            show_new(spark, before, f"point lookup wall={wall:.3f}s")
        elif what == "bloom":
            from firebolt_cdc_lambda_spark.operators.bloom import BloomIndex
            li = (load_table(spark, sf_dir, "lineitem")
                  .withColumn("line_uid",
                              F.md5(F.concat_ws(":", "l_orderkey",
                                                "l_linenumber"))))
            kt2 = KeyedTable(spark, f"{tmp}/li",
                             ["l_orderkey", "l_linenumber"], num_buckets=64)
            kt2.init(li)
            ix = BloomIndex(kt2, "line_uid", m_bits=131072)
            ix.build()
            probe = [r[0] for r in li.select("line_uid")
                     .orderBy("l_orderkey", "l_linenumber").limit(3)
                     .collect()]
            ix.lookup(probe).write.format("noop").mode("overwrite").save()
            before = jobs_snapshot(spark)
            t0 = time.time()
            ix.lookup(probe).write.format("noop").mode("overwrite").save()
            wall = time.time() - t0
            show_new(spark, before, f"bloom lookup wall={wall:.3f}s")
        elif what in ("jvfact", "jvdim"):
            from firebolt_cdc_lambda_spark.operators.joinview import JoinView
            cust = load_table(spark, sf_dir, "customer").select(
                "c_custkey", "c_name", "c_acctbal")
            of = orders.select("o_orderkey", "o_custkey", "o_totalprice")
            fact = KeyedTable(spark, f"{tmp}/fact", ["o_orderkey"],
                              num_buckets=64)
            dim = KeyedTable(spark, f"{tmp}/dim", ["c_custkey"],
                             num_buckets=64)
            fact.init(of)
            dim.init(cust)
            view = JoinView(spark, f"{tmp}/view", fact, dim, fk="o_custkey")
            view.rebuild()
            fb = (of.orderBy("o_orderkey").limit(40)
                  .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
                  .withColumn("Op", F.lit("U")))
            db = (cust.orderBy("c_custkey").limit(5)
                  .withColumn("c_acctbal", F.col("c_acctbal") + 1.0)
                  .withColumn("Op", F.lit("U")))
            if what == "jvfact":
                view.apply_fact_delta(fb)
                before = jobs_snapshot(spark)
                t0 = time.time()
                view.apply_fact_delta(fb)
                wall = time.time() - t0
                show_new(spark, before, f"jv fact delta wall={wall:.3f}s")
            else:
                dim.merge_batch(db)
                view.apply_dim_delta(db)
                before = jobs_snapshot(spark)
                t0 = time.time()
                view.apply_dim_delta(db)
                wall = time.time() - t0
                show_new(spark, before, f"jv dim delta wall={wall:.3f}s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
