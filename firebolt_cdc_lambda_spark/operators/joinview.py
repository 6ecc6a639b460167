"""Incrementally-maintained materialized join view (fact ⋈ dim).

The reference's consumers run enrichment joins against its CDC-merged
production tables on every query (DATA_VALIDATION_QUERIES.sql joins the
snapshot tables back to their sources); at 100 TB the standard move is
to MATERIALIZE the join once and maintain it from the same CDC deltas
the merge path already receives — the delta-join rule
Δ(F ⋈ D) = ΔF ⋈ D  ∪  σ[fk ∈ keys(ΔD)](F) ⋈ ΔD.  ``JoinView`` stores
``fact LEFT JOIN dim`` as a :class:`KeyedTable` keyed by the fact PK
and applies both delta legs incrementally:

* **Fact-side delta** (the common leg): the batch's rows are enriched
  by ``dim.lookup`` — a KEY-hash bucket-pruned read of only the dim
  buckets the batch's fk values hash into — then merged into the view
  through the ordinary bucket-pruned CDC merge.  Cost ∝ batch size +
  touched dim/view buckets; the view is never scanned.
* **Dim-side delta** (the fan-out leg): the affected view rows are the
  ones whose fk is in the delta's key set — an fk is NOT the view's
  key, so this is exactly the non-key predicate
  :class:`~..operators.bloom.BloomIndex` exists for.  ``rebuild``
  builds a bloom index over the view's fk column; the dim leg probes
  it and reads only candidate buckets (fail-open: a stale/voided index
  degrades to a full scan, never a wrong answer).  The surviving rows
  re-join the delta's post-image (broadcast — it is micro-batch-sized)
  and merge back.  Cost ∝ rows actually referencing the changed dim
  keys, plus bloom false positives.

**Composite keys (v2)**: ``fk`` may be a LIST of fact columns matching
a composite dim key.  The bloom index is single-column, so the view
materializes a FUSED column ``_jv_fkh = xxhash64(fk...)`` (hidden from
``read()``) and the dim leg probes the index with the hashes of the
changed key tuples.  Hash collisions are made harmless by an EXACT
post-filter: candidate rows are semi-joined on the real fk tuple
before re-enrichment, so a collision costs a bucket read, never a
wrongly-NULLed enrichment.

Ordering within a batch uses the same 5-level CDC cascade as the merge
path (operators.ordering); across batches the caller applies deltas in
commit order, exactly like the CDC pipeline replaying its file ledger.
Correctness contract (pinned by tests/test_joinview.py's property
test): after ANY interleaving of fact and dim deltas,
``view.read()`` ≡ the from-scratch ``fact LEFT JOIN dim`` — apply and
rebuild are the same function.

Restrictions (honest): the fact batch must carry the fk columns
(standard CDC full-row images), fact columns must not start with
``dim_prefix`` (enforced at rebuild — the view schema is how the dim
leg tells enrichment columns from fact columns), and DIM schema
evolution (add/drop/rename of a payload column) requires ``rebuild()``
— ``apply_dim_delta`` detects the drift against the view's stored
schema and raises rather than silently leaving stale or missing
enrichment columns.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from .bloom import BloomIndex
from .dedup import deduplicate
from .merge import DEFAULT_DELETE_VALUES, KeyedTable
from .ordering import CDC_META_COLS, OP_COL

#: fused composite-fk hash column materialized in the view (composite
#: fk only); hidden from read().
FUSED_FK_COL = "_jv_fkh"


class JoinView:
    """Materialized ``fact LEFT JOIN dim`` with incremental maintenance.

    ``fact``/``dim`` are the source :class:`KeyedTable` snapshots the
    CDC pipeline maintains; the view stores the fact columns plus the
    dim's payload columns renamed ``{dim_prefix}{col}`` (the dim key
    itself is not copied — the fact's fk column already carries it).
    """

    def __init__(self, spark, path: str, fact: KeyedTable, dim: KeyedTable,
                 fk: str | Sequence[str], dim_prefix: str = "dim_",
                 num_buckets: int | None = None):
        self.fks = [fk] if isinstance(fk, str) else list(fk)
        if len(dim.keys) != len(self.fks):
            raise ValueError(
                f"fk {self.fks} must match the dim key {list(dim.keys)} "
                f"column-for-column")
        self.spark = spark
        self.fact = fact
        self.dim = dim
        self.dim_keys = list(dim.keys)
        self.composite = len(self.fks) > 1
        self.dim_prefix = dim_prefix
        # single-column fk: the bloom index sits on the fk itself;
        # composite: on the fused hash column the view materializes
        self._bloom_col = FUSED_FK_COL if self.composite else self.fks[0]
        # the view inherits the fact table's delete-protection mode
        # (tombstone markers): without it, a fact key deleted and then
        # referenced by a STALE late batch would be resurrected in the
        # view even though the fact table's own gate blocked it — the
        # view would silently desync until a rebuild (stored view meta
        # still wins over this default, as everywhere)
        self.table = KeyedTable(
            spark, path, fact.keys,
            num_buckets=num_buckets or fact.num_buckets,
            tombstones=fact.tombstones)

    # -- naming ------------------------------------------------------------
    def _enrich_cols(self) -> list[str]:
        """View-side names of the dim payload columns, derived from the
        VIEW's stored schema (the ``dim_prefix``-prefixed columns) —
        not from the current dim schema: after a dim payload column is
        dropped or renamed, the stale prefixed column must still be
        dropped-and-refreshed by :meth:`apply_dim_delta`, which the
        current-dim derivation would miss.  Falls back to the dim
        schema only before the view's first build (nothing stored
        yet).  Fact columns may not collide with the prefix —
        :meth:`rebuild` enforces that."""
        if self.table.exists():
            return [c for c in self.table.read().columns
                    if c.startswith(self.dim_prefix)]
        return [f"{self.dim_prefix}{c}" for c in self.dim.read().columns
                if c not in self.dim_keys]

    def _prefixed_dim(self, dim_df: DataFrame) -> DataFrame:
        """Dim rows shaped for the view join: keys kept under their own
        names (join columns, dropped after), payload prefixed."""
        cols = [F.col(k) for k in self.dim_keys] + [
            F.col(c).alias(f"{self.dim_prefix}{c}")
            for c in dim_df.columns
            if c not in self.dim_keys and c not in CDC_META_COLS]
        return dim_df.select(*cols)

    def _fk_types(self) -> dict:
        """The FACT table's stored fk column types — the canonical types
        every fused hash must be computed under.  xxhash64 is
        TYPE-sensitive (xxhash64(5 AS INT) != xxhash64(5 AS BIGINT)), so
        a batch arriving with drifted numeric widths would otherwise
        produce hashes that never match the stored ``_jv_fkh``
        (review finding, round 7).  Empty before the fact's first
        write."""
        schema = self.fact._load_schema()
        if schema is None:
            return {}
        return {fk: schema[fk].dataType
                for fk in self.fks if fk in schema.names}

    def _fused(self, df: DataFrame) -> DataFrame:
        """Materialize the fused fk-hash column (composite fk only),
        hashing under the fact table's canonical fk types."""
        if not self.composite:
            return df
        tys = self._fk_types()
        cols = [F.col(fk).cast(tys[fk]) if fk in tys else F.col(fk)
                for fk in self.fks]
        return df.withColumn(FUSED_FK_COL, F.xxhash64(*cols))

    def _joined(self, fact_df: DataFrame, dim_df: DataFrame,
                broadcast_dim: bool) -> DataFrame:
        d = self._prefixed_dim(dim_df)
        if broadcast_dim:
            d = F.broadcast(d)
        cond = None
        for fk, dk in zip(self.fks, self.dim_keys):
            c = fact_df[fk] == d[dk]
            cond = c if cond is None else cond & c
        out = fact_df.join(d, on=cond, how="left")
        for dk in self.dim_keys:
            out = out.drop(d[dk])
        return self._fused(out)

    # -- full rebuild ------------------------------------------------------
    def rebuild(self) -> None:
        """Recompute the view from the current fact/dim snapshots (the
        one full-join job; Catalyst picks broadcast vs shuffle by dim
        size) and (re)build the fk bloom index that makes the dim-side
        delta leg bucket-pruned.  On a tombstone-mode pair the rebuild
        copies the fact's marker rows into the view (joined like any
        row; hidden from read()), so a stale late batch for a deleted
        key is version-gated by the view exactly as by the fact table
        even right after a rebuild — rebuilding must not reopen the
        resurrection hole tombstones exist to close."""
        base = (self.fact.snapshot_for_rewrite()
                if self.table.tombstones and self.fact.tombstones
                else self.fact.read())
        clash = [c for c in base.columns if c.startswith(self.dim_prefix)]
        if clash:
            raise ValueError(
                f"fact columns {clash} collide with dim_prefix "
                f"{self.dim_prefix!r}; the view schema could not tell "
                f"them from enrichment columns — pick another prefix")
        if self.composite:
            if FUSED_FK_COL in base.columns:
                raise ValueError(
                    f"fact column {FUSED_FK_COL!r} collides with the "
                    f"view's fused fk-hash column — rename it")
            # xxhash64 is type-sensitive: the composite dim leg probes
            # the stored hash with values typed from the DIM side, so a
            # fact-fk / dim-key dtype mismatch would make every probe
            # miss SILENTLY (lookup's exact .isin on the hash is not
            # fail-open against this) — reject it here
            dim_schema = {f.name: f.dataType
                          for f in self.dim.read().schema.fields}
            bad = [(fk, dk) for fk, dk in zip(self.fks, self.dim_keys)
                   if fk in base.columns and dk in dim_schema
                   and dict(zip(base.schema.names,
                                [f.dataType for f in base.schema.fields])
                            )[fk] != dim_schema[dk]]
            if bad:
                raise ValueError(
                    f"composite fk/dim-key dtype mismatch {bad}: the "
                    f"fused xxhash64 probe is type-sensitive — cast the "
                    f"columns to matching types before building the view")
        full = self._joined(base, self.dim.read(), broadcast_dim=False)
        if self.table.exists():
            self.table.rewrite(full)
        else:
            self.table.init(full)
        BloomIndex(self.table, self._bloom_col).build()

    # -- delta legs --------------------------------------------------------
    def _dim_probe(self, df: DataFrame) -> DataFrame:
        """fk columns of ``df`` reshaped as a dim-key probe frame
        (NULL-fk rows dropped — they can never match)."""
        probe = df.select(*[F.col(fk).alias(dk)
                            for fk, dk in zip(self.fks, self.dim_keys)])
        for dk in self.dim_keys:
            probe = probe.where(F.col(dk).isNotNull())
        return probe.distinct()

    def apply_fact_delta(self, batch: DataFrame, op_col: str = OP_COL,
                         delete_values: Sequence[str] = DEFAULT_DELETE_VALUES,
                         order=None, version_col: str | None = None,
                         insert_deletes: bool = False) -> int:
        """ΔF leg: enrich the batch against only the dim buckets its fk
        values hash into (``dim.lookup`` with the fk column AS the key
        DataFrame — no value collect), then CDC-merge into the view.
        Returns #view buckets rewritten.  Apply the same batch to
        ``fact`` separately — the view is a downstream consumer, not
        the fact table's writer.  Pass the SAME ``version_col`` AND
        ``insert_deletes`` the fact merge uses (the pipeline threads
        its own): a stale late batch the fact table rejected — or an
        unmatched delete row the fact table's insert_deletes mode
        INSERTED as a live row — must be treated identically by the
        view, or the two desync until a rebuild."""
        latest = deduplicate(batch, self.fact.keys, order=order,
                             check_bypass=True)
        dim_rows = self.dim.lookup(self._dim_probe(latest))
        enriched = self._joined(latest, dim_rows, broadcast_dim=True)
        return self.table.merge_batch(enriched, op_col=op_col,
                                      delete_values=delete_values,
                                      version_col=version_col,
                                      insert_deletes=insert_deletes)

    def apply_dim_delta(self, batch: DataFrame, order=None) -> int:
        """ΔD leg: find the view rows referencing the changed dim keys
        through the fk bloom index (candidate-bucket read; full scan
        only if the index is absent/voided — fail-open, never wrong)
        and recompute their enrichment from the CURRENT dim table —
        not from the batch's own images.  Call AFTER merging the batch
        into ``dim``: reading back the merged rows means whatever the
        dim merge decided (stale rows version-gated out, deletes
        landed or tombstoned) is exactly what the view absorbs —
        deleted dim keys come back empty from ``dim.lookup`` and
        revert to NULL enrichment, matching LEFT JOIN.  The probe key
        list is collected on the driver — micro-batch-bounded by the
        same contract as the merge path's touched-bucket list."""
        latest = deduplicate(batch, self.dim_keys, order=order,
                             check_bypass=True)
        keys = latest.select(*self.dim_keys).distinct()
        for dk in self.dim_keys:
            keys = keys.where(F.col(dk).isNotNull())
        # ONE metadata job collects BOTH driver-side lists this leg
        # needs: the bloom probe values AND the dim-bucket ids the later
        # ``dim.lookup`` would otherwise re-collect (guide §1/§5 — the
        # micro-batch paths here are job-count-bound, not data-bound).
        # The dim-bucket hash must run on DIM-aligned key types (lossless
        # widenings only, so the probe values' semantics are unchanged)
        # exactly as lookup() itself would align them.
        akeys = self.dim._align_key_types(keys)
        dim_bcol = F.pmod(
            F.xxhash64(*[F.col(dk) for dk in self.dim_keys]),
            F.lit(self.dim.num_buckets)).alias("_jv_db")
        if self.composite:
            # hash the probe under the FACT's canonical fk types — a dim
            # delta arriving with drifted numeric widths must still hit
            # the stored (fact-typed) _jv_fkh values
            tys = self._fk_types()
            pcols = [F.col(dk).cast(tys[fk]) if fk in tys else F.col(dk)
                     for fk, dk in zip(self.fks, self.dim_keys)]
            rows = akeys.select(F.xxhash64(*pcols), dim_bcol).collect()
        else:
            rows = akeys.select(F.col(self.dim_keys[0]), dim_bcol).collect()
        probe_vals = [r[0] for r in rows]
        dim_buckets = sorted({int(r[1]) for r in rows})
        if not probe_vals:
            return 0
        affected = BloomIndex(self.table, self._bloom_col).lookup(probe_vals)
        if self.composite:
            # the fused-hash filter admits collision rows; the EXACT
            # semi-join on the real fk tuple removes them (a wrongly
            # admitted row would re-join against `current`, miss, and
            # be refreshed to NULL — a wrong answer, not just a cost)
            changed_fk = keys.select(*[
                F.col(dk).alias(fk)
                for fk, dk in zip(self.fks, self.dim_keys)])
            affected = affected.join(F.broadcast(changed_fk),
                                     on=self.fks, how="left_semi")
        current = self.dim.lookup(keys, _buckets=dim_buckets)
        stored = set(self._enrich_cols())
        now = {f"{self.dim_prefix}{c}" for c in current.columns
               if c not in self.dim_keys and c not in CDC_META_COLS}
        if stored != now:
            # dim schema evolved (add/drop/rename) since the view was
            # built: a delta can refresh values, not reshape the view —
            # fail loudly under the documented recovery contract
            raise ValueError(
                f"dim schema changed since the view was built "
                f"(view has {sorted(stored)}, dim now maps to "
                f"{sorted(now)}); run rebuild() to absorb it")
        refreshed = self._joined(
            affected.drop(*stored), current, broadcast_dim=True)
        # refreshed rows carry no op column: all-upsert merge
        return self.table.merge_batch(refreshed)

    # -- serving / maintenance --------------------------------------------
    def read(self) -> DataFrame:
        df = self.table.read()
        return df.drop(FUSED_FK_COL) if self.composite else df

    def refresh_index(self) -> list[int]:
        """Pay down the merge-flagged dirty buckets of the fk bloom
        index (cost ∝ churn); run on the fleet maintenance cadence."""
        return BloomIndex(self.table, self._bloom_col).refresh()
