"""JoinView: incrementally-maintained materialized fact-LEFT-JOIN-dim.

The contract under test is apply ≡ rebuild: after ANY interleaving of
fact-side and dim-side CDC deltas, the incrementally-maintained view
equals the from-scratch join of the current snapshots — including the
LEFT JOIN edges (fact rows referencing a missing/deleted dim read NULL
enrichment; a late-arriving dim insert back-fills them through the
bloom-pruned dim leg).
"""

import datetime as dt
import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from firebolt_cdc_lambda_spark.operators.joinview import JoinView
from firebolt_cdc_lambda_spark.operators.merge import KeyedTable

T0 = dt.datetime(2024, 1, 1, 0, 0)


def ts(i):
    return T0 + dt.timedelta(minutes=i)


def fact_rows(spec, t):
    """spec: [(id, fk, val, op)]"""
    return [Row(id=i, cust=fk, val=v, Op=op, load_timestamp=t)
            for i, fk, v, op in spec]


def dim_rows(spec, t):
    """spec: [(did, name, op)]"""
    return [Row(did=d, name=n, Op=op, load_timestamp=t)
            for d, n, op in spec]


@pytest.fixture()
def tables(spark, tmp_path):
    fact = KeyedTable(spark, str(tmp_path / "fact"), ["id"], num_buckets=4)
    dim = KeyedTable(spark, str(tmp_path / "dim"), ["did"], num_buckets=4)
    fact.init(spark.createDataFrame(fact_rows(
        [(1, 10, "a", "I"), (2, 10, "b", "I"), (3, 20, "c", "I"),
         (4, 99, "d", "I"), (5, None, "e", "I")], ts(0))).drop("Op"))
    dim.init(spark.createDataFrame(dim_rows(
        [(10, "ten", "I"), (20, "twenty", "I"), (30, "thirty", "I")],
        ts(0))).drop("Op"))
    view = JoinView(spark, str(tmp_path / "view"), fact, dim, fk="cust")
    view.rebuild()
    return fact, dim, view


def oracle(view):
    """From-scratch recompute of the current join."""
    return view._joined(view.fact.read(), view.dim.read(),
                        broadcast_dim=False)


def assert_synced(view):
    got = sorted(map(tuple, view.read().select(
        "id", "cust", "val", "dim_name").collect()))
    exp = sorted(map(tuple, oracle(view).select(
        "id", "cust", "val", "dim_name").collect()))
    assert got == exp


def test_rebuild_matches_full_join(tables):
    fact, dim, view = tables
    assert_synced(view)
    rows = {r["id"]: r["dim_name"] for r in view.read().collect()}
    assert rows[1] == "ten" and rows[3] == "twenty"
    assert rows[4] is None          # fk 99 has no dim row (LEFT edge)
    assert rows[5] is None          # NULL fk


def test_fact_delta_upsert_insert_delete_fkchange(spark, tables):
    fact, dim, view = tables
    batch = spark.createDataFrame(fact_rows(
        [(1, 20, "a2", "U"),        # fk change 10 -> 20
         (6, 30, "f", "I"),         # new fact row
         (2, 10, "b", "D"),         # delete
         (7, 404, "g", "I")], ts(1)))   # references missing dim
    fact.merge_batch(batch)
    view.apply_fact_delta(batch)
    assert_synced(view)
    rows = {r["id"]: r["dim_name"] for r in view.read().collect()}
    assert rows[1] == "twenty" and rows[6] == "thirty"
    assert 2 not in rows and rows[7] is None


def test_dim_delta_update_delete_backfill(spark, tables):
    fact, dim, view = tables
    batch = spark.createDataFrame(dim_rows(
        [(10, "TEN!", "U"),         # rename fans out to facts 1 and 2
         (20, "twenty", "D"),       # delete nulls fact 3's enrichment
         (99, "found", "I")], ts(1)))   # back-fills fact 4's LEFT edge
    dim.merge_batch(batch)
    view.apply_dim_delta(batch)
    assert_synced(view)
    rows = {r["id"]: r["dim_name"] for r in view.read().collect()}
    assert rows[1] == "TEN!" and rows[2] == "TEN!"
    assert rows[3] is None and rows[4] == "found"


def test_within_batch_dedup_latest_wins(spark, tables):
    fact, dim, view = tables
    batch = spark.createDataFrame(
        fact_rows([(1, 30, "old", "U")], ts(1))
        + fact_rows([(1, 20, "new", "U")], ts(2)))
    fact.merge_raw_batch(batch)     # raw path dedups internally
    view.apply_fact_delta(batch)
    assert_synced(view)
    row = view.read().where("id = 1").first()
    assert row["val"] == "new" and row["dim_name"] == "twenty"


def test_dim_delta_prunes_through_bloom(spark, tables):
    """The dim leg must consult the fk bloom index — candidate buckets
    for a changed key that no fact references are empty, so the leg
    reads nothing and merges nothing."""
    fact, dim, view = tables
    batch = spark.createDataFrame(dim_rows([(30, "THIRTY!", "U")], ts(1)))
    dim.merge_batch(batch)
    # fk=30 is unreferenced: no view rows affected, zero buckets merged
    assert view.apply_dim_delta(batch) == 0
    assert_synced(view)


def test_refresh_index_pays_down_dirty(spark, tables):
    from firebolt_cdc_lambda_spark.operators.bloom import BloomIndex
    fact, dim, view = tables
    batch = spark.createDataFrame(fact_rows([(8, 10, "h", "I")], ts(1)))
    fact.merge_batch(batch)
    view.apply_fact_delta(batch)
    idx = BloomIndex(view.table, "cust")
    assert idx._load_side()["dirty"]          # merge flagged its buckets
    assert view.refresh_index()               # repaid
    assert not idx._load_side()["dirty"]
    assert_synced(view)


def test_property_random_interleaving(spark, tmp_path):
    """Randomized apply ≡ rebuild: 8 rounds of mixed fact/dim deltas
    (upserts, inserts, deletes, fk rewires, dim deletes/backfills) keep
    the incrementally-maintained view identical to the from-scratch
    join after every round."""
    rng = random.Random(20260814)
    fact = KeyedTable(spark, str(tmp_path / "f"), ["id"], num_buckets=4)
    dim = KeyedTable(spark, str(tmp_path / "d"), ["did"], num_buckets=4)
    fact.init(spark.createDataFrame(fact_rows(
        [(i, rng.choice([10, 20, 30, 777]), f"v{i}", "I")
         for i in range(20)], ts(0))).drop("Op"))
    dim.init(spark.createDataFrame(dim_rows(
        [(d, f"n{d}", "I") for d in (10, 20, 30)], ts(0))).drop("Op"))
    view = JoinView(spark, str(tmp_path / "v"), fact, dim, fk="cust")
    view.rebuild()
    next_id = 20
    for step in range(1, 9):
        if rng.random() < 0.55:
            spec = []
            for _ in range(rng.randint(1, 4)):
                r = rng.random()
                if r < 0.5:     # upsert existing (maybe rewiring fk)
                    spec.append((rng.randrange(next_id),
                                 rng.choice([10, 20, 30, 777, None]),
                                 f"u{step}", "U"))
                elif r < 0.8:   # insert
                    spec.append((next_id, rng.choice([10, 30, 777]),
                                 f"i{step}", "I"))
                    next_id += 1
                else:           # delete
                    spec.append((rng.randrange(next_id), 10, "x", "D"))
            batch = spark.createDataFrame(fact_rows(spec, ts(step)))
            fact.merge_raw_batch(batch)
            view.apply_fact_delta(batch)
        else:
            spec = []
            for _ in range(rng.randint(1, 2)):
                r = rng.random()
                if r < 0.5:
                    spec.append((rng.choice([10, 20, 30]),
                                 f"n{step}", "U"))
                elif r < 0.8:   # back-fill / new dim key
                    spec.append((777, f"late{step}", "I"))
                else:
                    spec.append((rng.choice([20, 30]), "x", "D"))
            batch = spark.createDataFrame(dim_rows(spec, ts(step)))
            dim.merge_raw_batch(batch)
            view.apply_dim_delta(batch)
        assert_synced(view)


def test_mismatched_fk_arity_rejected(spark, tmp_path):
    dim = KeyedTable(spark, str(tmp_path / "d"), ["a", "b"])
    fact = KeyedTable(spark, str(tmp_path / "f"), ["id"])
    with pytest.raises(ValueError, match="column-for-column"):
        JoinView(spark, str(tmp_path / "v"), fact, dim, fk="x")


def test_pipeline_maintains_registered_views(spark, tmp_path):
    """register_join_view: the pipeline applies each merged batch to the
    matching delta leg — including the auto-rebuild on first batch —
    so the view tracks the snapshots file-for-file."""
    from firebolt_cdc_lambda_spark.config import TableKeys
    from firebolt_cdc_lambda_spark.pipeline import CdcPipeline

    root = str(tmp_path / "src")

    def write(table, name, rows):
        spark.createDataFrame(rows).coalesce(1).write.parquet(
            f"{root}/fair/{table}/2024/01/01/{name}")

    pipe = CdcPipeline(
        spark, str(tmp_path / "wh"),
        TableKeys.from_json('{"orders": "id", "custs": "did"}'),
        num_buckets=4)
    fact = pipe.target_for("orders", ["id"])
    dim = pipe.target_for("custs", ["did"])
    view = JoinView(spark, str(tmp_path / "view"), fact, dim, fk="cust")
    pipe.register_join_view(view, fact_table="orders", dim_table="custs")

    # bootstraps: dim first (view skipped — fact missing), then fact
    # (both exist now -> auto-rebuild covers everything so far)
    write("custs", "d0.parquet", dim_rows(
        [(10, "ten", "I"), (20, "twenty", "I")], ts(0)))
    write("orders", "f0.parquet", fact_rows(
        [(1, 10, "a", "I"), (2, 20, "b", "I"), (3, 99, "c", "I")], ts(0)))
    assert pipe.process_file(
        f"{root}/fair/custs/2024/01/01/d0.parquet").status == "bootstrapped"
    assert not view.table.exists()
    assert pipe.process_file(
        f"{root}/fair/orders/2024/01/01/f0.parquet").status == "bootstrapped"
    assert view.table.exists()
    assert_synced(view)

    # incremental legs ride the ordinary per-file merges
    write("orders", "f1.parquet", fact_rows(
        [(1, 20, "a2", "U"), (2, 20, "b", "D"), (4, 10, "d", "I")], ts(1)))
    assert pipe.process_file(
        f"{root}/fair/orders/2024/01/01/f1.parquet").status == "completed"
    assert_synced(view)
    write("custs", "d1.parquet", dim_rows(
        [(10, "TEN!", "U"), (99, "late", "I")], ts(1)))
    assert pipe.process_file(
        f"{root}/fair/custs/2024/01/01/d1.parquet").status == "completed"
    assert_synced(view)
    rows = {r["id"]: r["dim_name"] for r in view.read().collect()}
    assert rows == {1: "twenty", 3: "late", 4: "TEN!"}

    # replay is a no-op through the ledger: the view must not double-apply
    assert pipe.process_file(
        f"{root}/fair/orders/2024/01/01/f1.parquet").status == "already_processed"
    assert_synced(view)


def test_stream_maintains_registered_view(spark, tmp_path):
    """Structured-Streaming maintenance comes free: CdcStream drives
    pipeline.process_batch per file, which applies registered view
    legs — the materialized join is stream-maintained with no extra
    wiring."""
    from firebolt_cdc_lambda_spark.config import TableKeys
    from firebolt_cdc_lambda_spark.pipeline import CdcPipeline
    from firebolt_cdc_lambda_spark.streaming import CdcStream

    pipe = CdcPipeline(
        spark, str(tmp_path / "wh"),
        TableKeys.from_json('{"orders": "id", "custs": "did"}'),
        num_buckets=4)
    dim = pipe.target_for("custs", ["did"])
    dim.init(spark.createDataFrame(dim_rows(
        [(10, "ten", "I"), (20, "twenty", "I")], ts(0))).drop("Op"))
    fact = pipe.target_for("orders", ["id"])
    view = JoinView(spark, str(tmp_path / "view"), fact, dim, fk="cust")
    pipe.register_join_view(view, fact_table="orders")

    src = str(tmp_path / "src" / "fair" / "orders")

    def write(date, name, rows):
        y, m, d = date.split("-")
        spark.createDataFrame(rows).coalesce(1).write.parquet(
            f"{src}/{y}/{m}/{d}/{name}")

    write("2024-01-01", "f0.parquet", fact_rows(
        [(1, 10, "a", "I"), (2, 20, "b", "I")], ts(0)))
    write("2024-01-02", "f1.parquet", fact_rows(
        [(1, 20, "a2", "U"), (3, 10, "c", "I")], ts(1)))
    stream = CdcStream(pipe, "orders", ["id"], src,
                       str(tmp_path / "ckpt"))
    stream.run_to_completion(spark)
    assert view.table.exists()
    assert_synced(view)
    rows = {r["id"]: r["dim_name"] for r in view.read().collect()}
    assert rows == {1: "twenty", 2: "twenty", 3: "ten"}


def test_stale_late_batch_gated_like_the_fact_table(spark, tmp_path):
    """Review regression: the view's legs must apply the SAME version
    gate and tombstone protection as the fact merge — a stale late
    batch the fact table rejected (including a resurrection attempt on
    a deleted key) must leave the view synced, not desynced until a
    manual rebuild."""
    from firebolt_cdc_lambda_spark.config import TableKeys
    from firebolt_cdc_lambda_spark.pipeline import CdcPipeline

    root = str(tmp_path / "src")

    def write(name, rows):
        spark.createDataFrame(rows).coalesce(1).write.parquet(
            f"{root}/fair/orders/2024/01/01/{name}")

    pipe = CdcPipeline(
        spark, str(tmp_path / "wh"),
        TableKeys.from_json('{"orders": "id", "custs": "did"}'),
        num_buckets=4, version_col="load_timestamp")   # tombstones default ON
    dim = pipe.target_for("custs", ["did"])
    dim.init(spark.createDataFrame(dim_rows(
        [(10, "ten", "I"), (20, "twenty", "I")], ts(0))).drop("Op"))
    fact = pipe.target_for("orders", ["id"])
    view = JoinView(spark, str(tmp_path / "view"), fact, dim, fk="cust")
    assert view.table.tombstones is False or True  # resolved below
    pipe.register_join_view(view, fact_table="orders")

    write("f0.parquet", fact_rows(
        [(1, 10, "a", "I"), (2, 20, "b", "I")], ts(0)))
    write("f2.parquet", fact_rows(
        [(1, 20, "a2", "U"), (2, 20, "b", "D")], ts(2)))
    # the STALE file: an older update for key 1 and a resurrection
    # attempt on deleted key 2, arriving AFTER f2
    write("f1_late.parquet", fact_rows(
        [(1, 10, "STALE", "U"), (2, 10, "ZOMBIE", "U")], ts(1)))
    for f in ("f0.parquet", "f2.parquet", "f1_late.parquet"):
        pipe.process_file(f"{root}/fair/orders/2024/01/01/{f}")
    assert view.table.tombstones is True        # inherited from the fact
    assert_synced(view)
    rows = {r["id"]: (r["val"], r["dim_name"])
            for r in view.read().collect()}
    assert rows == {1: ("a2", "twenty")}        # stale gated, zombie gated

    # the same gating survives a REBUILD (markers copied into the view)
    view.rebuild()
    assert_synced(view)
    write("f1_later.parquet", fact_rows([(2, 10, "ZOMBIE2", "U")], ts(1)))
    pipe.process_file(f"{root}/fair/orders/2024/01/01/f1_later.parquet")
    assert_synced(view)
    assert {r["id"] for r in view.read().collect()} == {1}


def test_bootstrap_from_load_files_rebuilds_views(spark, tmp_path):
    """Review regression: a full-load re-initialization REPLACES the
    snapshot, so registered views must rebuild — a delta leg cannot
    express 'every other row vanished'."""
    from firebolt_cdc_lambda_spark.config import TableKeys
    from firebolt_cdc_lambda_spark.pipeline import CdcPipeline

    pipe = CdcPipeline(
        spark, str(tmp_path / "wh"),
        TableKeys.from_json('{"orders": "id", "custs": "did"}'),
        num_buckets=4)
    dim = pipe.target_for("custs", ["did"])
    dim.init(spark.createDataFrame(dim_rows(
        [(10, "ten", "I")], ts(0))).drop("Op"))
    fact = pipe.target_for("orders", ["id"])
    fact.init(spark.createDataFrame(fact_rows(
        [(1, 10, "a", "I"), (2, 10, "b", "I"), (3, 10, "c", "I")],
        ts(0))).drop("Op"))
    view = JoinView(spark, str(tmp_path / "view"), fact, dim, fk="cust")
    view.rebuild()
    pipe.register_join_view(view, fact_table="orders")

    # full reload with a DISJOINT, smaller row set
    load = str(tmp_path / "src" / "fair" / "orders" / "2024" / "01" / "02"
               / "LOAD00000001.parquet")
    spark.createDataFrame(fact_rows(
        [(7, 10, "seven", "I")], ts(1))).coalesce(1).write.parquet(load)
    assert pipe.bootstrap_from_load_files("orders", [load]).status \
        == "bootstrapped"
    assert_synced(view)
    assert {r["id"] for r in view.read().collect()} == {7}


def test_insert_deletes_mode_threaded_to_view(spark, tmp_path):
    """Round-6 advisor (medium): with CdcPipeline(insert_deletes=True)
    the fact merge INSERTS unmatched delete rows as live rows
    (reference-parity mode); the view's fact leg must do the same or
    the view silently diverges from fact LEFT JOIN dim until a manual
    rebuild."""
    from firebolt_cdc_lambda_spark.config import TableKeys
    from firebolt_cdc_lambda_spark.pipeline import CdcPipeline

    root = str(tmp_path / "src")

    def write(table, name, rows):
        spark.createDataFrame(rows).coalesce(1).write.parquet(
            f"{root}/fair/{table}/2024/01/01/{name}")

    pipe = CdcPipeline(
        spark, str(tmp_path / "wh"),
        TableKeys.from_json('{"orders": "id", "custs": "did"}'),
        num_buckets=4, insert_deletes=True)
    fact = pipe.target_for("orders", ["id"])
    dim = pipe.target_for("custs", ["did"])
    view = JoinView(spark, str(tmp_path / "view"), fact, dim, fk="cust")
    pipe.register_join_view(view, fact_table="orders", dim_table="custs")

    write("custs", "d0.parquet", dim_rows([(10, "ten", "I")], ts(0)))
    write("orders", "f0.parquet", fact_rows([(1, 10, "a", "I")], ts(0)))
    pipe.process_file(f"{root}/fair/custs/2024/01/01/d0.parquet")
    pipe.process_file(f"{root}/fair/orders/2024/01/01/f0.parquet")

    # the UNMATCHED delete: key 2 was never inserted; insert_deletes
    # mode lands it as a live row — in the fact AND in the view.  The
    # MATCHED delete (key 1) still deletes on both.
    write("orders", "f1.parquet", fact_rows(
        [(2, 10, "ghost", "D"), (1, 10, "a", "D")], ts(1)))
    assert pipe.process_file(
        f"{root}/fair/orders/2024/01/01/f1.parquet").status == "completed"
    assert {r["id"] for r in fact.read().collect()} == {2}
    assert_synced(view)
    rows = {r["id"]: r["dim_name"] for r in view.read().collect()}
    assert rows == {2: "ten"}


def test_dim_schema_evolution_requires_rebuild(spark, tables):
    """Round-6 advisor (low): _enrich_cols now derives from the VIEW's
    stored schema; a dim payload column added/renamed after the build
    makes apply_dim_delta raise (delta legs refresh values, not
    schemas) instead of silently leaving a stale prefixed column."""
    fact, dim, view = tables
    dim.rewrite(dim.read().withColumn("tier", F.lit("gold")))
    batch = spark.createDataFrame(dim_rows([(10, "TEN!", "U")], ts(1)))
    with pytest.raises(ValueError, match="rebuild"):
        view.apply_dim_delta(batch)
    view.rebuild()                       # absorbs the new column...
    assert "dim_tier" in view.read().columns
    view.apply_dim_delta(batch.withColumn("tier", F.lit("gold")))
    assert_synced(view)                  # ...and the delta leg works again


def test_fact_prefix_clash_rejected(spark, tmp_path):
    """Fact columns may not collide with dim_prefix — the view schema
    is how the dim leg tells enrichment columns from fact columns."""
    fact = KeyedTable(spark, str(tmp_path / "f"), ["id"], num_buckets=2)
    dim = KeyedTable(spark, str(tmp_path / "d"), ["did"], num_buckets=2)
    fact.init(spark.createDataFrame(
        [Row(id=1, cust=10, dim_name="clash", load_timestamp=ts(0))]))
    dim.init(spark.createDataFrame(
        [Row(did=10, name="ten", load_timestamp=ts(0))]))
    view = JoinView(spark, str(tmp_path / "v"), fact, dim, fk="cust")
    with pytest.raises(ValueError, match="collide"):
        view.rebuild()


def test_property_random_interleaving_composite(spark, tmp_path):
    """Composite (2-column) dim key via the fused-fk-hash bloom column:
    the same randomized apply ≡ rebuild contract, plus the exact
    semi-join post-filter that keeps hash collisions cost-only."""
    rng = random.Random(20260815)
    pairs = [(1, 1), (1, 2), (2, 1), (9, 9)]   # (9,9) never in dim -> LEFT

    def frows(spec, t):
        return [Row(id=i, ka=a, kb=b, val=v, Op=op, load_timestamp=t)
                for i, a, b, v, op in spec]

    def drows(spec, t):
        return [Row(da=a, db=b, name=n, Op=op, load_timestamp=t)
                for a, b, n, op in spec]

    fact = KeyedTable(spark, str(tmp_path / "f"), ["id"], num_buckets=4)
    dim = KeyedTable(spark, str(tmp_path / "d"), ["da", "db"], num_buckets=4)
    fact.init(spark.createDataFrame(frows(
        [(i, *rng.choice(pairs), f"v{i}", "I") for i in range(20)],
        ts(0))).drop("Op"))
    dim.init(spark.createDataFrame(drows(
        [(1, 1, "a", "I"), (1, 2, "b", "I"), (2, 1, "c", "I")],
        ts(0))).drop("Op"))
    view = JoinView(spark, str(tmp_path / "v"), fact, dim, fk=["ka", "kb"])
    view.rebuild()
    assert "_jv_fkh" not in view.read().columns   # fused col hidden

    def synced():
        got = sorted(map(tuple, view.read().select(
            "id", "ka", "kb", "val", "dim_name").collect()))
        exp = sorted(map(tuple, view._joined(
            view.fact.read(), view.dim.read(), broadcast_dim=False)
            .select("id", "ka", "kb", "val", "dim_name").collect()))
        assert got == exp

    synced()
    next_id = 20
    for step in range(1, 7):
        if rng.random() < 0.55:
            spec = []
            for _ in range(rng.randint(1, 4)):
                r = rng.random()
                if r < 0.5:
                    spec.append((rng.randrange(next_id),
                                 *rng.choice(pairs), f"u{step}", "U"))
                elif r < 0.8:
                    spec.append((next_id, *rng.choice(pairs),
                                 f"i{step}", "I"))
                    next_id += 1
                else:
                    spec.append((rng.randrange(next_id), 1, 1, "x", "D"))
            batch = spark.createDataFrame(frows(spec, ts(step)))
            fact.merge_raw_batch(batch)
            view.apply_fact_delta(batch)
        else:
            spec = []
            for _ in range(rng.randint(1, 2)):
                r = rng.random()
                if r < 0.5:
                    spec.append((*rng.choice([(1, 1), (1, 2), (2, 1)]),
                                 f"n{step}", "U"))
                elif r < 0.8:   # late back-fill of the LEFT-edge pair
                    spec.append((9, 9, f"late{step}", "I"))
                else:
                    spec.append((*rng.choice([(1, 2), (2, 1)]), "x", "D"))
            batch = spark.createDataFrame(drows(spec, ts(step)))
            dim.merge_raw_batch(batch)
            view.apply_dim_delta(batch)
        synced()


def test_composite_probe_survives_batch_dtype_drift(spark, tmp_path):
    """Review regression: xxhash64 is TYPE-sensitive, so a dim delta
    arriving with narrower integer types than the dim table must still
    hit the stored (fact-typed) fused hashes — the probe casts to the
    fact's canonical fk types."""
    from pyspark.sql import types as T
    fact = KeyedTable(spark, str(tmp_path / "f"), ["id"], num_buckets=2)
    dim = KeyedTable(spark, str(tmp_path / "d"), ["da", "db"], num_buckets=2)
    fact.init(spark.createDataFrame(
        [Row(id=1, ka=7, kb=8, val="x", load_timestamp=ts(0))]))
    dim.init(spark.createDataFrame(
        [Row(da=7, db=8, name="old", load_timestamp=ts(0))]))
    view = JoinView(spark, str(tmp_path / "v"), fact, dim, fk=["ka", "kb"])
    view.rebuild()
    # the delta batch arrives INT-typed (the table keys are BIGINT)
    batch = spark.createDataFrame(
        [(7, 8, "NEW", "U", ts(1))],
        T.StructType([T.StructField("da", T.IntegerType()),
                      T.StructField("db", T.IntegerType()),
                      T.StructField("name", T.StringType()),
                      T.StructField("Op", T.StringType()),
                      T.StructField("load_timestamp", T.TimestampType())]))
    dim.merge_batch(batch)
    view.apply_dim_delta(batch)
    assert [r["dim_name"] for r in view.read().collect()] == ["NEW"]


def test_fused_col_clash_rejected(spark, tmp_path):
    fact = KeyedTable(spark, str(tmp_path / "f"), ["id"], num_buckets=2)
    dim = KeyedTable(spark, str(tmp_path / "d"), ["da", "db"], num_buckets=2)
    fact.init(spark.createDataFrame(
        [Row(id=1, ka=7, kb=8, _jv_fkh=1, load_timestamp=ts(0))]))
    dim.init(spark.createDataFrame(
        [Row(da=7, db=8, name="n", load_timestamp=ts(0))]))
    view = JoinView(spark, str(tmp_path / "v"), fact, dim, fk=["ka", "kb"])
    with pytest.raises(ValueError, match="_jv_fkh"):
        view.rebuild()


def test_composite_fk_dim_dtype_mismatch_rejected(spark, tmp_path):
    """A fact-fk / dim-key dtype mismatch would make every dim-leg
    probe silently miss — rebuild rejects it."""
    from pyspark.sql import types as T
    fact = KeyedTable(spark, str(tmp_path / "f"), ["id"], num_buckets=2)
    dim = KeyedTable(spark, str(tmp_path / "d"), ["da", "db"], num_buckets=2)
    fact.init(spark.createDataFrame(
        [(1, 7, 8, "x")],
        T.StructType([T.StructField("id", T.LongType()),
                      T.StructField("ka", T.IntegerType()),   # INT fk
                      T.StructField("kb", T.IntegerType()),
                      T.StructField("val", T.StringType())])))
    dim.init(spark.createDataFrame(
        [Row(da=7, db=8, name="n", load_timestamp=ts(0))]))   # BIGINT keys
    view = JoinView(spark, str(tmp_path / "v"), fact, dim, fk=["ka", "kb"])
    with pytest.raises(ValueError, match="dtype mismatch"):
        view.rebuild()
