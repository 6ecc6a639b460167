"""Per-layer metrics from the spans of a traced run (see spans.py).

Every metric is printed in every traced run.  The spans are those of the
bootstraps and the measured cycles.  ``evolution.columns_added`` counts
the columns the run's tables gained over their LOAD schema (the
schema-add file lands in trickle's untraced warm-up).  A layer a
workload never calls reports a count of 0; every time below is exercised
by both workloads, so a time never reads as a constant.
``trace.overhead_ratio`` compares one apply repeated untraced and traced
(``Run.trace_overhead``), not the cycles.
"""

from __future__ import annotations

import os
import statistics

PER_LAYER = {
    "ledger.is_processed.p50_s": "s",
    "ledger.record.p50_s": "s",
    "ledger.files_end": "count",
    "merge.merge_raw_batch.p50_s": "s",
    "merge.buckets_rewritten_per_batch": "count",
    "merge.bytes_written_per_input_byte": "ratio",
    "merge.files_written_per_batch": "count",
    "merge.jobs_per_batch": "count",
    "merge.tasks_per_batch": "count",
    "merge.lookup.p50_s": "s",
    "merge.lookup.jobs_per_call": "count",
    "merge.read.p50_s": "s",
    "dedup.batches_deduped_ratio": "ratio",
    "dedup.rows_dropped": "count",
    "ingest.read_cdc_files.p50_s": "s",
    "ingest.rows_in": "count",
    "evolution.diff_schemas.p50_s": "s",
    "evolution.columns_added": "count",
    "pipeline.process_file.self_s": "s",
    "pipeline.process_batch.self_s": "s",
    "pipeline.already_processed": "count",
    "pipeline.skipped": "count",
    "stream.batches": "count",
    "stream.files_per_batch": "count",
    "stream.overhead_share": "ratio",
    "sqlapi.register_warehouse.p50_s": "s",
    "sqlapi.query.jobs_per_call": "count",
    "session.get_spark_s": "s",
    "setup.bootstrap_s": "s",
    "spark.jobs_per_file": "count",
    "trace.overhead_ratio": "ratio",
}


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(r, session_s: float) -> dict[str, tuple[float, str]]:
    """``{metric: (value, unit)}`` for a finished traced run ``r``."""
    tr = r.tracer
    kids = tr.children()
    by: dict[str, list] = {}
    for s in tr.spans:
        by.setdefault(s.name, []).append(s)

    def durs(name):
        return [s.dur for s in by.get(name, ())]

    merges = by.get("merge.merge_raw_batch", [])
    runs = by.get("stream.run_to_completion", [])
    files = by.get("pipeline.process_file", [])
    batches = by.get("pipeline.process_batch", [])
    in_stream = {s.id for s in batches if s.parent in {x.id for x in runs}}
    statuses = [s.attrs.get("status") for s in files]
    in_bytes = r.traced_input_bytes
    drain_s = sum(s.dur for s in runs)
    drained_batch_s = sum(s.dur for s in batches if s.id in in_stream)
    applied = r.traced_files
    # the same apply, traced over untraced (Run.trace_overhead)
    traced_s, untraced_s = sum(r.overhead["traced"]), sum(r.overhead["untraced"])
    ledger = os.path.join(r.wh, "_ledger")
    ledger_files = sum(f.endswith(".parquet")
                       for _, _, fs in os.walk(ledger) for f in fs)
    v = {
        "ledger.is_processed.p50_s": _med(durs("ledger.is_processed")),
        "ledger.record.p50_s": _med(durs("ledger.record")),
        "ledger.files_end": ledger_files,
        "merge.merge_raw_batch.p50_s": _med(durs("merge.merge_raw_batch")),
        "merge.buckets_rewritten_per_batch":
            _mean(s.attrs["buckets"] for s in merges),
        "merge.bytes_written_per_input_byte":
            (sum(s.attrs["bytes_written"] for s in merges) / in_bytes
             if in_bytes else 0.0),
        "merge.files_written_per_batch":
            _mean(s.attrs["files_written"] for s in merges),
        "merge.jobs_per_batch": _mean(s.attrs["jobs"] for s in merges),
        "merge.tasks_per_batch": _mean(s.attrs["tasks"] for s in merges),
        "merge.lookup.p50_s": _med(durs("merge.lookup")),
        "merge.lookup.jobs_per_call":
            _mean(s.attrs["jobs"] for s in by.get("read.lookup", ())),
        "merge.read.p50_s": _med(durs("merge.read")),
        "dedup.batches_deduped_ratio":
            _mean(1.0 if s.attrs["deduped"] else 0.0 for s in merges),
        "dedup.rows_dropped":
            r.traced_rows_in - sum(s.attrs["rows"] for s in merges),
        "ingest.read_cdc_files.p50_s": _med(durs("ingest.read_cdc_files")),
        "ingest.rows_in": r.traced_rows_in,
        "evolution.diff_schemas.p50_s": _med(durs("evolution.diff_schemas")),
        "evolution.columns_added": r.columns_added,
        "pipeline.process_file.self_s":
            _med(tr.self_time(s, kids) for s in files),
        "pipeline.process_batch.self_s":
            _med(tr.self_time(s, kids) for s in batches),
        "pipeline.already_processed": statuses.count("already_processed"),
        "pipeline.skipped": statuses.count("skipped"),
        "stream.batches": len(in_stream),
        "stream.files_per_batch":
            r.traced_drained_files / len(in_stream) if in_stream else 0.0,
        "stream.overhead_share":
            (drain_s - drained_batch_s) / drain_s if drain_s else 0.0,
        "sqlapi.register_warehouse.p50_s":
            _med(durs("sqlapi.register_warehouse")),
        "sqlapi.query.jobs_per_call":
            _mean(s.attrs["jobs"] for s in by.get("sqlapi.query", ())),
        "session.get_spark_s": session_s,
        "setup.bootstrap_s": sum(durs("setup.bootstrap")),
        "spark.jobs_per_file":
            (sum(s.attrs["jobs"] for s in files + runs) / applied
             if applied else 0.0),
        "trace.overhead_ratio":
            traced_s / untraced_s - 1.0 if untraced_s else 0.0,
    }
    return {m: (float(v[m]), u) for m, u in PER_LAYER.items()}
