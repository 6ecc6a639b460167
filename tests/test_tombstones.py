"""Tombstoned deletes: out-of-order replay safety the plain merge can't
give.  Without tombstones a delete physically removes the stored row,
so a STALE late-arriving write finds no match and resurrects the key
(the reference shares this gap and leans on its file ledger, which only
blocks same-file replays).  With tombstones + version gating, the final
state is independent of the order batches arrive in — proven here both
by targeted cases and by a hypothesis property over random streams."""

import datetime as dt
from itertools import permutations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from firebolt_cdc_lambda_spark.operators.merge import (
    TOMBSTONE_COL, KeyedTable, merge_cdc)

TS = [dt.datetime(2024, 1, d) for d in range(1, 10)]


def df_of(spark, rows):
    return spark.createDataFrame(rows)


def test_stale_write_cannot_resurrect_deleted_key(spark, tmp_path):
    """delete(v3) applied, then a LATE update(v2) arrives: without
    tombstones the key resurrects (documented gap); with tombstones the
    stale write is gated and the key stays deleted."""
    def run(tombstones):
        t = KeyedTable(spark, str(tmp_path / f"t{tombstones}"), ["id"],
                       num_buckets=4, tombstones=tombstones)
        t.init(df_of(spark, [Row(id=1, v="orig", load_timestamp=TS[0])]))
        t.merge_batch(df_of(spark, [
            Row(id=1, v="x", load_timestamp=TS[2], Op="D")]),
            version_col="load_timestamp")
        t.merge_batch(df_of(spark, [
            Row(id=1, v="stale", load_timestamp=TS[1], Op="U")]),
            version_col="load_timestamp")
        return t.read().collect()

    assert len(run(False)) == 1          # the gap, demonstrated
    assert run(True) == []               # the fix


def test_fresh_write_resurrects_and_purge(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=4,
                   tombstones=True)
    t.init(df_of(spark, [Row(id=1, v="a", load_timestamp=TS[0])]))
    t.merge_batch(df_of(spark, [Row(id=1, v="x", load_timestamp=TS[1], Op="D")]),
                  version_col="load_timestamp")
    assert t.read().collect() == []
    # the tombstone row physically exists, hidden from read()
    assert t._read_raw().where(F.col(TOMBSTONE_COL)).count() == 1
    # a NEWER write revives the key
    t.merge_batch(df_of(spark, [Row(id=1, v="back", load_timestamp=TS[3], Op="U")]),
                  version_col="load_timestamp")
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0]["v"] == "back"
    # delete again, then purge only OLD tombstones -> recent one survives
    t.merge_batch(df_of(spark, [Row(id=1, v="x", load_timestamp=TS[5], Op="D")]),
                  version_col="load_timestamp")
    t.purge_tombstones(before_version=TS[4], version_col="load_timestamp")
    assert t._read_raw().where(F.col(TOMBSTONE_COL)).count() == 1
    t.purge_tombstones()
    assert t._read_raw().count() == 0


def test_unmatched_delete_inserts_tombstone(spark, tmp_path):
    """A delete for a never-seen key records a tombstone, so a stale
    insert arriving after it is gated too (delete-then-late-insert)."""
    t = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=4,
                   tombstones=True)
    t.init(df_of(spark, [Row(id=1, v="a", load_timestamp=TS[0])]))
    t.merge_batch(df_of(spark, [Row(id=9, v="x", load_timestamp=TS[4], Op="D")]),
                  version_col="load_timestamp")
    assert t.read().where("id = 9").count() == 0
    t.merge_batch(df_of(spark, [Row(id=9, v="late", load_timestamp=TS[2], Op="I")]),
                  version_col="load_timestamp")
    assert t.read().where("id = 9").count() == 0      # gated by the tombstone


def test_tombstone_mode_persisted_in_meta(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=4,
                   tombstones=True)
    t.init(df_of(spark, [Row(id=1, v="a", load_timestamp=TS[0])]))
    # a writer constructed WITHOUT the flag still honors the stored mode
    t2 = KeyedTable(spark, str(tmp_path / "t"), ["id"])
    assert t2.tombstones is True
    t2.merge_batch(df_of(spark, [Row(id=1, v="x", load_timestamp=TS[1], Op="D")]),
                   version_col="load_timestamp")
    assert t2.read().collect() == []
    assert t2._read_raw().where(F.col(TOMBSTONE_COL)).count() == 1


# -- property: batch-order independence ----------------------------------

EVENT = st.fixed_dictionaries({
    "id": st.integers(min_value=0, max_value=3),
    "Op": st.sampled_from(["I", "U", "D"]),
    "v": st.integers(min_value=0, max_value=100),
})
STREAM = st.lists(EVENT, min_size=1, max_size=8)

SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("Op", T.StringType()),
    T.StructField("v", T.LongType()),
    T.StructField("load_timestamp", T.TimestampType()),
])


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=STREAM, split=st.integers(min_value=0, max_value=7))
def test_final_state_independent_of_batch_order(spark, tmp_path_factory,
                                                events, split):
    """With tombstones + version gating and globally distinct versions,
    applying the batches in ANY order converges to the same visible
    state: per key, its max-version event (absent if that is a D)."""
    rows = [(e["id"], e["Op"], e["v"], TS[0] + dt.timedelta(hours=i))
            for i, e in enumerate(events)]           # distinct versions
    split = min(split, len(rows) - 1)
    batches = [b for b in (rows[:split], rows[split:]) if b]

    def apply(order):
        root = tmp_path_factory.mktemp("ts")
        t = KeyedTable(spark, str(root / "t"), ["id"], num_buckets=4,
                       tombstones=True)
        t.init(spark.createDataFrame([], SCHEMA))
        for b in order:
            t.merge_raw_batch(spark.createDataFrame(b, SCHEMA),
                              version_col="load_timestamp")
        return {(r["id"], r["v"]) for r in t.read().collect()}

    expected = {}
    for r in sorted(rows, key=lambda r: r[3]):
        expected[r[0]] = None if r[1] == "D" else (r[0], r[2])
    want = {v for v in expected.values() if v is not None}

    for order in permutations(batches):
        assert apply(order) == want


# -- pipeline default: tombstones ON for new tables ------------------------

def test_pipeline_tombstone_default_resolution(spark, tmp_path):
    """Auto default: ON unless insert_deletes asks for visible delete
    rows (which tombstones would hide); explicit values always win."""
    from firebolt_cdc_lambda_spark.pipeline import CdcPipeline
    wh = str(tmp_path / "wh")
    assert CdcPipeline(spark, wh).tombstones is True
    assert CdcPipeline(spark, wh, insert_deletes=True).tombstones is False
    assert CdcPipeline(spark, wh, tombstones=False).tombstones is False
    assert CdcPipeline(spark, wh, insert_deletes=True,
                       tombstones=True).tombstones is True


def test_pipeline_default_gates_out_of_order_delete(spark, tmp_path):
    """End-to-end through CdcPipeline WITHOUT opting in: a stale late
    update after a newer delete stays dead (the round-4 headline fix is
    now on by default)."""
    from firebolt_cdc_lambda_spark.config import TableKeys
    from firebolt_cdc_lambda_spark.pipeline import CdcPipeline

    pipe = CdcPipeline(spark, str(tmp_path / "wh"),
                       TableKeys.from_json('{"users": "id"}'),
                       num_buckets=4, version_col="load_timestamp")
    pipe.process_batch("users", ["id"], df_of(spark, [
        Row(id=1, v="orig", Op="I", load_timestamp=TS[0])]))
    pipe.process_batch("users", ["id"], df_of(spark, [
        Row(id=1, v="x", Op="D", load_timestamp=TS[2])]))
    pipe.process_batch("users", ["id"], df_of(spark, [
        Row(id=1, v="stale", Op="U", load_timestamp=TS[1])]))
    assert pipe.target_for("users", ["id"]).read().collect() == []


def test_pipeline_purge_tombstones(spark, tmp_path):
    from firebolt_cdc_lambda_spark.config import TableKeys
    from firebolt_cdc_lambda_spark.pipeline import CdcPipeline

    pipe = CdcPipeline(spark, str(tmp_path / "wh"),
                       TableKeys.from_json('{"users": "id", "nok": null}'),
                       num_buckets=4, version_col="load_timestamp")
    pipe.process_batch("users", ["id"], df_of(spark, [
        Row(id=1, v="a", Op="I", load_timestamp=TS[0]),
        Row(id=2, v="b", Op="I", load_timestamp=TS[0])]))
    pipe.process_batch("users", ["id"], df_of(spark, [
        Row(id=1, v="x", Op="D", load_timestamp=TS[2])]))
    t = pipe.target_for("users", ["id"])
    assert t._read_raw().where(F.col(TOMBSTONE_COL)).count() == 1
    assert pipe.purge_tombstones("nok") is False          # unconfigured
    assert pipe.purge_tombstones("ghost") is False        # absent
    # the only tombstone is NEWER than the cutoff: nothing purgeable, so
    # the no-op probe must short-circuit BEFORE any rewrite (False)
    assert pipe.purge_tombstones("users", before_version=TS[1]) is False
    assert t._read_raw().where(F.col(TOMBSTONE_COL)).count() == 1  # too new
    assert pipe.purge_tombstones("users") is True
    assert t._read_raw().where(F.col(TOMBSTONE_COL)).count() == 0
    # and now that zero tombstones remain, a repeat purge is a no-op too
    assert pipe.purge_tombstones("users") is False
    assert {r["id"] for r in t.read().collect()} == {2}   # live rows intact


def test_maintenance_rewrites_preserve_tombstones(spark, tmp_path):
    """rebucket and cluster_by rewrite from the RAW snapshot: the delete
    markers (and the marker column) must survive, or the out-of-order
    gate is silently disarmed by routine maintenance."""
    t = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=4,
                   tombstones=True)
    t.init(df_of(spark, [Row(id=1, v="a", load_timestamp=TS[0]),
                         Row(id=2, v="b", load_timestamp=TS[0])]))
    t.merge_batch(df_of(spark, [Row(id=1, v="x", load_timestamp=TS[3], Op="D")]),
                  version_col="load_timestamp")
    t.rebucket(8)
    t.cluster_by(["id"])
    assert t._read_raw().where(F.col(TOMBSTONE_COL)).count() == 1
    # gate still armed after both rewrites
    t.merge_batch(df_of(spark, [Row(id=1, v="stale", load_timestamp=TS[1], Op="U")]),
                  version_col="load_timestamp")
    assert {r["id"] for r in t.read().collect()} == {2}


def test_schema_evolution_preserves_tombstones(spark, tmp_path):
    """The pipeline's ADD-COLUMN rewrite evolves the raw snapshot: a
    batch that both adds a column and follows a delete must leave the
    tombstone in place and keep gating stale writes."""
    from firebolt_cdc_lambda_spark.config import TableKeys
    from firebolt_cdc_lambda_spark.pipeline import CdcPipeline

    pipe = CdcPipeline(spark, str(tmp_path / "wh"),
                       TableKeys.from_json('{"users": "id"}'),
                       num_buckets=4, version_col="load_timestamp")
    pipe.process_batch("users", ["id"], df_of(spark, [
        Row(id=1, v="a", Op="I", load_timestamp=TS[0]),
        Row(id=2, v="b", Op="I", load_timestamp=TS[0])]))
    pipe.process_batch("users", ["id"], df_of(spark, [
        Row(id=1, v="x", Op="D", load_timestamp=TS[3])]))
    # new column 'extra' triggers the evolution rewrite
    r = pipe.process_batch("users", ["id"], df_of(spark, [
        Row(id=2, v="b2", extra="e", Op="U", load_timestamp=TS[4])]))
    assert r.schema_report.added
    t = pipe.target_for("users", ["id"])
    assert t._read_raw().where(F.col(TOMBSTONE_COL)).count() == 1
    pipe.process_batch("users", ["id"], df_of(spark, [
        Row(id=1, v="stale", extra="s", Op="U", load_timestamp=TS[1])]))
    rows = {r["id"]: r for r in t.read().collect()}
    assert set(rows) == {2} and rows[2]["extra"] == "e"


def test_purge_null_version_tombstone_is_purgeable(spark, tmp_path):
    """Review regression: NULL versions sort before everything (the
    version gate's contract), so a NULL-version tombstone is older than
    ANY cutoff — the probe and the rewrite's keep-filter must agree on
    that.  With a bare `<` the NULL comparison made the probe skip the
    row while the rewrite dropped it: purged iff some OTHER row
    happened to be purgeable."""
    from firebolt_cdc_lambda_spark.operators.merge import KeyedTable
    kt = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=2,
                    tombstones=True)
    kt.init(df_of(spark, [Row(id=1, v="a", load_timestamp=TS[0]),
                          Row(id=2, v="b", load_timestamp=None)]))
    # delete id=2 with a NULL version (e.g. a source that never stamped)
    kt.merge_batch(
        df_of(spark, [Row(id=2, v="x", Op="D", load_timestamp=TS[0])])
        .withColumn("load_timestamp", F.lit(None).cast("timestamp")),
        version_col="load_timestamp")
    assert kt._read_raw().where(F.col(TOMBSTONE_COL)).count() == 1
    # NULL-version marker alone, cutoff given: purgeable, probe agrees
    assert kt.purge_tombstones(before_version=TS[1],
                               version_col="load_timestamp") is True
    assert kt._read_raw().where(F.col(TOMBSTONE_COL)).count() == 0
    assert {r["id"] for r in kt.read().collect()} == {1}


def test_retired_delete_vector_table_refuses_to_open(spark, tmp_path):
    """A table whose stored meta records the retired delete-vector mode
    kept its deletes only in a ``__dv`` sidecar no reader applies any
    more: opening it would show every deleted row again, so the
    constructor refuses and names the path.  A stored
    ``"delete_vectors": false`` (what older writers recorded on every
    table) still opens."""
    import json
    import re
    kt = KeyedTable(spark, str(tmp_path / "t"), ["id"], num_buckets=2,
                    tombstones=True)
    kt.init(df_of(spark, [Row(id=1, v="a", load_timestamp=TS[0])]))
    meta = json.loads(kt._read_sidecar("_meta.json"))
    meta["delete_vectors"] = False
    kt._write_sidecar("_meta.json", json.dumps(meta))
    assert KeyedTable(spark, kt.path, ["id"]).tombstones is True
    meta["delete_vectors"] = True
    kt._write_sidecar("_meta.json", json.dumps(meta))
    with pytest.raises(ValueError, match=re.escape(kt.path)):
        KeyedTable(spark, kt.path, ["id"])
