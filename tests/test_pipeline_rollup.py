"""Pipeline-integrated continuous aggregates + full-load bootstrap."""

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from firebolt_cdc_lambda_spark.config import TableKeys
from firebolt_cdc_lambda_spark.operators.rollup_table import RollupTable
from firebolt_cdc_lambda_spark.pipeline import CdcPipeline

TS = dt.datetime(2024, 1, 1)
TS2 = dt.datetime(2024, 1, 2)


def aggs():
    return [F.count(F.lit(1)).alias("n"),
            F.sum(F.col("amt").cast("decimal(18,2)")).cast("double").alias("total")]


def test_pipeline_maintains_rollup_across_batches(spark, tmp_path):
    pipe = CdcPipeline(spark, str(tmp_path / "wh"),
                       TableKeys.from_json('{"tx": "id"}'), num_buckets=4)
    rollup = RollupTable(spark, str(tmp_path / "rollup"), ["status"], aggs,
                         num_buckets=4)
    pipe.register_rollup("tx", rollup, project=lambda df: df)

    b1 = spark.createDataFrame(
        [Row(id=i, status=("a", "b")[i % 2], amt=float(i), Op="I",
             load_timestamp=TS) for i in range(20)])
    pipe.process_batch("tx", ["id"], b1)           # bootstrap
    b2 = spark.createDataFrame([
        Row(id=0, status="c", amt=100.0, Op="U", load_timestamp=TS2),  # a -> c
        Row(id=1, status="b", amt=0.0, Op="D", load_timestamp=TS2),    # delete
        Row(id=99, status="a", amt=9.0, Op="I", load_timestamp=TS2),   # insert
    ])
    pipe.process_batch("tx", ["id"], b2)

    snap = pipe.target_for("tx", ["id"]).read()
    want = {r["status"]: (r["n"], r["total"])
            for r in snap.groupBy("status").agg(*aggs()).collect()}
    got = {r["status"]: (r["n"], r["total"]) for r in rollup.read().collect()}
    assert got == want and "c" in got


def test_full_load_bootstrap(spark, tmp_path):
    pipe = CdcPipeline(spark, str(tmp_path / "wh"),
                       TableKeys.from_json('{"users": "id"}'), num_buckets=4)
    p1 = str(tmp_path / "LOAD001.parquet")
    p2 = str(tmp_path / "LOAD002.parquet")
    spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")]) \
        .write.parquet(p1)
    spark.createDataFrame([Row(id=3, v="c")]).write.parquet(p2)
    r = pipe.bootstrap_from_load_files("users", [p1, p2])
    assert r.status == "bootstrapped" and r.rows == 3
    rows = {x["id"]: x["v"] for x in pipe.target_for("users", ["id"]).read().collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}
    # ingestion_seq metadata never lands in the snapshot
    assert "ingestion_seq" not in pipe.target_for("users", ["id"]).read().columns


def test_full_load_null_pk_skipped(spark, tmp_path):
    pipe = CdcPipeline(spark, str(tmp_path / "wh"),
                       TableKeys.from_json('{"nokeys": null}'))
    assert pipe.bootstrap_from_load_files("nokeys", ["/nope"]).status == "skipped"


def test_rebootstrap_resyncs_registered_rollup(spark, tmp_path):
    """A full-load RE-bootstrap of an EXISTING table replaces the
    snapshot wholesale; the incremental rollup leg only re-aggregates
    a batch's touched groups, so without the bootstrap-path resync an
    existing rollup keeps every untouched group's pre-reload aggregate
    forever (the same silent-divergence class restore_table fixed for
    its own path)."""
    pipe = CdcPipeline(spark, str(tmp_path / "wh"),
                       TableKeys.from_json('{"tx": "id"}'), num_buckets=4)
    rollup = RollupTable(spark, str(tmp_path / "rollup"), ["status"], aggs,
                         num_buckets=4)
    pipe.register_rollup("tx", rollup, project=lambda df: df)
    pipe.process_batch("tx", ["id"], spark.createDataFrame(
        [Row(id=i, status=("a", "b")[i % 2], amt=float(i), Op="I",
             load_timestamp=TS) for i in range(20)]))
    # one incremental batch so the rollup exists and tracks
    pipe.process_batch("tx", ["id"], spark.createDataFrame(
        [Row(id=100, status="a", amt=1.0, Op="I", load_timestamp=TS2)]))
    assert rollup.exists()
    # full reload: group 'b' vanishes entirely, 'a' shrinks — a batch
    # that follows touches NEITHER pre-reload group
    p = str(tmp_path / "LOAD001.parquet")
    spark.createDataFrame(
        [Row(id=i, status="a", amt=10.0) for i in range(3)]
    ).write.parquet(p)
    r = pipe.bootstrap_from_load_files("tx", [p])
    assert r.status == "bootstrapped" and r.rows == 3
    snap = pipe.target_for("tx", ["id"]).read()
    want = {x["status"]: (x["n"], x["total"])
            for x in snap.groupBy("status").agg(*aggs()).collect()}
    got = {x["status"]: (x["n"], x["total"])
           for x in rollup.read().collect()}
    assert got == want and "b" not in got          # stale 'b' dropped
    # and the CDC bootstrap branch resyncs the same way: a fresh
    # warehouse whose rollup store survives from a previous life
    import shutil
    shutil.rmtree(str(tmp_path / "wh"))
    pipe2 = CdcPipeline(spark, str(tmp_path / "wh"),
                        TableKeys.from_json('{"tx": "id"}'), num_buckets=4)
    pipe2.register_rollup("tx", rollup, project=lambda df: df)
    pipe2.process_batch("tx", ["id"], spark.createDataFrame(
        [Row(id=7, status="z", amt=2.0, Op="I", load_timestamp=TS)]))
    got2 = {x["status"]: (x["n"], x["total"])
            for x in rollup.read().collect()}
    assert got2 == {"z": (1, 2.0)}
