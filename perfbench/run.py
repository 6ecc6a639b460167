"""CDC engine benchmark: one workload, one seed, one process.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 8 --trace 0

Inputs are generated from ``--seed`` (perfbench/gen.py), fed to the
engine through its public API only (``CdcPipeline``, ``CdcStream``,
``KeyedTable``, ``sqlapi``) on ``local[k]`` with k <= nproc and one
caller thread, and the final tables are checked against an independent
model (perfbench/oracle.py).  Each workload measures a fixed number of
cycles, so every run of it holds the same operations; ``--seconds`` is
recorded, and the cycles take longer than the value BENCHMARK.json
gives.  ``--trace 1`` wraps each layer's public functions
(perfbench/spans.py) for the measured cycles, then times one apply
repeated untraced and traced (the tracing overhead), and reports the
per-layer metrics; ``--trace 0`` reports the end-to-end metrics.

Standard output ends with two JSON lines: a full report (environment,
sample counts, every metric), then the result object
``{"correct", "attempted", "failed", "metrics"}``.  The exit code is 0
when the run completed, whatever ``correct`` says; it is non-zero when
the engine cannot be imported or the run itself breaks.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark import __version__ as pyspark_version

import gen
from oracle import Oracle

#: Spark task threads: local[k] with k = min(CORES, nproc)
CORES = 4

#: the gated end-to-end metrics (BENCHMARK.json "end_to_end")
E2E = {
    "setup_s": "s", "apply_p50_s": "s", "files_per_s": "1/s",
    "lookup_p50_s": "s", "query_p50_s": "s", "store_mb": "MB",
}

QUERIES = [
    # row count + checksum
    "SELECT count(*) AS n, sum(o_totalprice) AS total, "
    "bit_xor(xxhash64(o_orderkey, o_orderstatus, o_totalprice)) AS chk "
    "FROM orders",
    # group-by sum
    "SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS total "
    "FROM orders GROUP BY o_orderpriority",
    # top-k
    "SELECT o_orderkey, o_totalprice FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    # + the workload's anti-join: child rows whose parent is gone
]


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..1) of a sample; 0.0 for an empty
    one, which only a run with failed operations (``correct`` false)
    leaves."""
    s = sorted(values)
    if not s:
        return 0.0
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def dir_mb(root: str) -> float:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except FileNotFoundError:
                pass
    return total / 1e6


def stop_spark() -> None:
    """Stop the session and wait for the JVM this process launched to
    exit (it exits when its stdin pipe closes)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    gw = SparkContext._gateway
    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    """State shared by the workloads: session, pipeline, oracle, samples."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.inputs = os.path.join(work, "in")
        self.wh = os.path.join(work, "wh")
        self.samples: dict[str, list[float]] = {
            "apply": [], "drain": [], "lookup": [], "query": []}
        self.attempted = 0
        self.failed = 0
        self.unexpected = 0          # calls that returned the wrong status
        self.errors: list[str] = []
        # the calls behind files_per_s / rows_per_s
        self.flow_files = 0
        self.flow_rows = 0
        self.flow_s = 0.0
        self.lookup_mismatches = 0
        # inputs of the traced calls, for the per-layer ratios
        self.traced_files = 0
        self.traced_rows_in = 0
        self.traced_drained_files = 0
        self.traced_input_bytes = 0
        self.columns_added = 0
        self.statuses: dict[str, int] = {}
        self.tracer = None
        # identical calls run untraced and traced: the tracing overhead
        self.overhead: dict[str, list[float]] = {"untraced": [], "traced": []}
        self.query_i = 0
        self.orphans = ""

    @property
    def traced(self) -> bool:
        return self.tracer is not None and self.tracer.enabled

    # -- engine calls, timed ----------------------------------------------
    def op(self, kind: str | None, fn, *a):
        """Run one user-visible operation; failures are counted, never
        retried."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*a)
        except Exception as exc:   # the benchmark's boundary: count it
            self.failed += 1
            self.errors.append(f"{kind}: {type(exc).__name__}: {exc}"[:300])
            return None, time.perf_counter() - t0
        dt = time.perf_counter() - t0
        if kind is not None:
            self.samples[kind].append(dt)
        return out, dt

    def flow(self, files: int, rows: int, dt: float) -> None:
        self.flow_files += files
        self.flow_rows += rows
        self.flow_s += dt

    def apply_file(self, f, kind: str | None = "apply",
                   expect: str = "completed", flow: bool = False) -> float:
        """One ``process_file``; ``kind`` names the sample list its
        latency joins (None: not sampled).  The oracle replays every new
        file whatever the engine answers, so a file the engine drops or
        skips shows as mismatched rows, and an answer other than
        ``expect`` fails the run."""
        res, dt = self.op(kind, self.pipe.process_file, f.path)
        if expect == "completed":
            self.oracle.tables[f.table].apply_file(f.path)
        if res is None:
            return dt
        self.statuses[res.status] = self.statuses.get(res.status, 0) + 1
        if res.status != expect:
            self.unexpected += 1
            self.errors.append(f"{os.path.basename(f.path)}: {res.status}, "
                               f"expected {expect} ({res.reason})")
        if flow:
            self.flow(1, f.rows, dt)
        if self.traced and kind is not None:
            self.traced_files += 1
            self.traced_rows_in += f.rows
            self.traced_input_bytes += os.path.getsize(f.path)
        return dt

    def lookup(self, table: str, keys: list[tuple], kind: str | None = "lookup"):
        kt = self.pipe.target_for(table, gen.KEYS[table])
        model = self.oracle.tables[table]

        def call():
            with self.span("read.lookup"):
                return kt.lookup(keys).toArrow()
        got, _ = self.op(kind, call)
        if got is None:
            return
        rows = {tuple(r[k] for k in gen.KEYS[table]): r for r in got.to_pylist()}
        for k in keys:
            exp, act = model.expected_row(k), rows.get(k)
            if (act is None) != (exp is None) or (
                    exp is not None
                    and any(act.get(c) != v for c, v in exp.items())):
                self.lookup_mismatches += 1

    def queries(self, n: int, kind: str | None = "query"):
        """The next ``n`` validation queries of the rotation."""
        from firebolt_cdc_lambda_spark import sqlapi
        rotation = QUERIES + [self.orphans]
        for _ in range(n):
            q = rotation[self.query_i % len(rotation)]
            self.query_i += 1

            def call():
                with self.span("sqlapi.query"):
                    sqlapi.register_warehouse(self.spark, self.wh)
                    return sqlapi.sql(self.spark, q).toArrow()
            self.op(kind, call)

    def span(self, name: str):
        """A benchmark-side span around a whole read (tracing runs only)."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def cold_key(self, table: str, rng) -> tuple:
        ks = gen.KeySpace(table).existing(rng, 1, 1.0)
        return tuple(int(ks[k][0]) for k in gen.KEYS[table])

    def trace_overhead(self, stale: list) -> None:
        """The same apply (a stale copy, see ``gen.stale_copies``) run
        once to warm its path, then untraced and traced in A-B-B-A order
        after the measured cycles; its spans are dropped so the per-layer
        metrics keep only the workload's own calls."""
        first = len(self.tracer.spans)
        self.tracer.enabled = False
        self.apply_file(stale[0], kind=None)
        for f, traced in zip(stale[1:], (False, True, True, False)):
            self.tracer.enabled = traced
            self.overhead["traced" if traced else "untraced"].append(
                self.apply_file(f, kind=None))
        self.tracer.enabled = False
        del self.tracer.spans[first:]


def recent_keys(path: str, table: str, n: int) -> list[tuple]:
    t = pq.read_table(path, columns=gen.KEYS[table])
    rows = list(zip(*[t.column(k).to_pylist() for k in gen.KEYS[table]]))
    return list(dict.fromkeys(rows))[:n]


# -- workloads ------------------------------------------------------------
class Trickle:
    """Small files on ``orders`` and ``lineitem`` through ``process_file``,
    one at a time (the reference's one-Lambda-per-file shape), each
    followed by two point lookups on that table (keys of that file, a
    cold key) and two validation queries: reads under ingest."""

    tables = ("orders", "lineitem")
    orphans = ("SELECT count(*) AS orphans FROM lineitem l "
               "LEFT ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey")
    cycles = 3
    rows_metric = "rows_per_s"

    def generate(self, r: Run):
        self.loads = {t: gen.write_load_files(r.inputs, t, r.args.seed)
                      for t in self.tables}
        self.warm, self.files = gen.trickle_sequence(
            r.inputs, r.args.seed, self.cycles)

    def bootstrap(self, r: Run):
        for t in self.tables:
            r.pipe.bootstrap_from_load_files(t, self.loads[t])

    def warm_up(self, r: Run):
        # no warm-up reads: the first (cold) lookup and query are the
        # slowest of their six samples, so they never set the median
        for f in self.warm:
            r.apply_file(f, kind=None)

    def cycle(self, r: Run, i: int, rng):
        f = self.files[i]
        r.apply_file(f, flow=True)
        if i == 0:
            # the re-delivered file: an already-applied S3 event again
            r.apply_file(self.warm[0], kind=None, expect="already_processed")
        r.lookup(f.table, recent_keys(f.path, f.table, 2))
        r.lookup(f.table, [r.cold_key(f.table, rng)])
        r.queries(2)


class Backfill:
    """Backlogs of medium ``orders`` files, each drained by one
    ``CdcStream.run_to_completion`` (one 8-file trigger).  After each
    drain the per-file path resumes with one small straggler file through
    ``process_file``, then two lookups (keys of the backlog, a cold key)
    and two validation queries run."""

    tables = ("customer", "orders")
    orphans = ("SELECT count(*) AS orphans FROM orders o "
               "LEFT ANTI JOIN customer c ON o.o_custkey = c.c_custkey")
    cycles = 2
    rows_metric = "backfill_rows_per_s"
    warm_files = 4
    files_per_backlog = 8
    rows_per_file = 2000
    # one trigger per backlog: a micro-batch has a fixed cost of ~3 s
    # (4-vCPU VM), which one 16k-row batch spreads over twice the rows
    # two 8k-row batches would
    max_files_per_trigger = 8

    def generate(self, r: Run):
        self.loads = {t: gen.write_load_files(r.inputs, t, r.args.seed)
                      for t in self.tables}
        # a one-trigger backlog and a straggler for the warm-up, then a
        # backlog and a straggler per cycle
        sizes = [self.warm_files] + [self.files_per_backlog] * self.cycles
        self.backlogs = gen.backfill_backlogs(
            os.path.join(r.inputs, "backfill"), r.args.seed, sizes,
            self.rows_per_file)
        # stragglers: versions after every backlog window
        _, self.stragglers = gen.trickle_sequence(
            os.path.join(r.inputs, "resume"), r.args.seed, 1 + self.cycles,
            pattern=("orders",), specials=False,
            t0_us=gen.T0_US + (sum(sizes) + 2) * 60 * gen.MINUTE_US)

    def bootstrap(self, r: Run):
        for t in self.tables:
            r.pipe.bootstrap_from_load_files(t, self.loads[t])

    def drain(self, r: Run, b: int, timed: bool = True):
        from firebolt_cdc_lambda_spark.streaming.cdc_stream import CdcStream
        files = self.backlogs[b]
        stream = CdcStream(r.pipe, "orders", gen.KEYS["orders"],
                           gen.table_dir(files[0].path),
                           os.path.join(r.work, "checkpoints", f"b{b}"),
                           max_files_per_trigger=self.max_files_per_trigger)
        failed = r.failed
        _, dt = r.op("drain" if timed else None,
                     stream.run_to_completion, r.spark)
        for f in files:
            r.oracle.tables["orders"].apply_file(f.path)
        if r.failed > failed:
            return
        rows = sum(f.rows for f in files)
        if r.traced and timed:
            r.traced_files += len(files)
            r.traced_drained_files += len(files)
            r.traced_rows_in += rows
            r.traced_input_bytes += sum(os.path.getsize(f.path) for f in files)
        if timed:
            r.flow(len(files), rows, dt)

    def warm_up(self, r: Run):
        # no warm-up reads: the first (cold) lookup and query are the
        # slowest of their four samples, so they never set the median
        self.drain(r, 0, timed=False)
        r.apply_file(self.stragglers[0], kind=None)

    def cycle(self, r: Run, i: int, rng):
        self.drain(r, 1 + i)
        r.apply_file(self.stragglers[1 + i])
        f = self.backlogs[1 + i][-1]
        r.lookup("orders", recent_keys(f.path, "orders", 2))
        r.lookup("orders", [r.cold_key("orders", rng)])
        r.queries(2)


WORKLOADS = {"trickle": Trickle, "backfill": Backfill}


# -- metrics --------------------------------------------------------------
def end_to_end(r: Run, wl, setup_s: float, store_mb: float) -> dict:
    """Every end-to-end figure of an untraced run (a superset of E2E:
    the percentiles the sample size cannot support, and figures a gated
    one already fixes, ride in the report line only)."""
    s = r.samples
    out = {
        "setup_s": setup_s,
        "apply_p50_s": median(s["apply"]),
        "apply_p90_s": pct(s["apply"], 0.9),
        "files_per_s": r.flow_files / r.flow_s if r.flow_s else 0.0,
        wl.rows_metric: r.flow_rows / r.flow_s if r.flow_s else 0.0,
        "lookup_p50_s": median(s["lookup"]),
        "lookup_p90_s": pct(s["lookup"], 0.9),
        "query_p50_s": median(s["query"]),
        "query_p90_s": pct(s["query"], 0.9),
        "store_mb": store_mb,
    }
    if s["drain"]:
        out["drain_p50_s"] = median(s["drain"])
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    checkout = os.getcwd()
    sys.path.insert(0, checkout)
    try:
        from firebolt_cdc_lambda_spark.config import TableKeys
        from firebolt_cdc_lambda_spark.pipeline import CdcPipeline
        from firebolt_cdc_lambda_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {checkout}: {exc}",
              file=sys.stderr)
        return 2

    random.seed(args.seed)      # the ledger's probabilistic GC draws here
    rng = np.random.default_rng([args.seed, 99])
    work = os.path.join(checkout, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    # every temp file of this process and its JVMs stays in the work dir
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    r = Run(args, work)
    wl = WORKLOADS[args.workload]()
    r.orphans = wl.orphans
    try:
        t_gen = time.perf_counter()
        wl.generate(r)
        stale = (gen.stale_copies(os.path.join(r.inputs, "stale"), args.seed, 5)
                 if args.trace else [])
        gen_s = time.perf_counter() - t_gen

        k = min(CORES, os.cpu_count() or 1)
        shuffle = 2 * k
        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench", master=f"local[{k}]",
            shuffle_partitions=shuffle,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
                "spark.hadoop.hadoop.tmp.dir": tmp,
            })
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        r.spark = spark
        if args.trace:
            from spans import Tracer
            r.tracer = Tracer(spark)
            r.tracer.install()
            r.tracer.enabled = True
        r.pipe = CdcPipeline(spark, r.wh,
                             table_keys=TableKeys.from_json(gen.table_keys_json()),
                             version_col="load_timestamp")
        r.oracle = Oracle(gen.KEYS, wl.loads)

        t1 = time.perf_counter()
        wl.bootstrap(r)
        bootstrap_s = time.perf_counter() - t1
        if r.tracer is not None:
            r.tracer.enabled = False        # spans: bootstrap + cycles only
        wl.warm_up(r)
        setup_s = session_s + time.perf_counter() - t1
        warm_up_s = setup_s - session_s - bootstrap_s

        # a fixed number of cycles, whatever --seconds says: every run of
        # a workload measures the same operations
        if r.tracer is not None:
            r.tracer.enabled = True
        t_run = time.perf_counter()
        for i in range(wl.cycles):
            wl.cycle(r, i, rng)
        measured_s = time.perf_counter() - t_run
        if r.tracer is not None:
            r.trace_overhead(stale)

        store_mb = dir_mb(r.wh)
        t_chk = time.perf_counter()
        mismatched = 0
        for t in wl.tables:
            actual = r.pipe.target_for(t, gen.KEYS[t]).read().toArrow()
            model = r.oracle.tables[t]
            mismatched += model.mismatched_rows(actual)
            r.columns_added += len(set(actual.column_names)
                                   - set(model.base.column_names))
        mismatched += r.lookup_mismatches
        check_s = time.perf_counter() - t_chk

        report = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "measured_s": measured_s,
            "cycles": wl.cycles, "trace": args.trace,
            "env": {
                "nproc": os.cpu_count(), "master": f"local[{k}]",
                "spark.sql.shuffle.partitions": shuffle,
                "pyspark": pyspark_version,
                "java": " ".join(spark._jvm.System.getProperty(p) for p in
                                 ("java.vm.name", "java.version")),
                "python": platform.python_version(),
                "work_root": os.path.relpath(work, checkout),
            },
            "samples": {k_: len(v) for k_, v in r.samples.items()},
            "sample_s": r.samples,
            "gen_s": gen_s, "session_s": session_s,
            "bootstrap_s": bootstrap_s, "warm_up_s": warm_up_s,
            "check_s": check_s,
            "mismatched_rows": mismatched,
            "lookup_mismatches": r.lookup_mismatches,
            "failed_ops_ratio": r.failed / max(1, r.attempted),
            "unexpected_statuses": r.unexpected,
            "statuses": r.statuses, "errors": r.errors[:5],
        }
        ok = r.failed == 0 and mismatched == 0 and r.unexpected == 0
        if args.trace:
            from layers import per_layer
            r.tracer.count_jobs()
            out = os.path.join(checkout, ".perfbench_out",
                               f"trace-{args.workload}-s{args.seed}.json")
            r.tracer.dump(out)
            measured = per_layer(r, session_s)
            report["trace_file"] = os.path.relpath(out, checkout)
            report["overhead_s"] = r.overhead
            report["metrics"] = {m: v for m, (v, _) in measured.items()}
        else:
            report["metrics"] = every = end_to_end(r, wl, setup_s, store_mb)
            measured = {m: (every[m], u) for m, u in E2E.items()}
        print(json.dumps(report, default=str))
        print(json.dumps({
            "correct": bool(ok), "attempted": r.attempted, "failed": r.failed,
            "metrics": {m: {"value": v, "unit": u}
                        for m, (v, u) in measured.items()},
        }))
        return 0
    finally:
        try:
            stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
