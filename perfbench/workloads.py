"""The benchmark's workloads, each a closed loop with one client.

- ``commit_sync``: one writer appends seeded batches through
  ``CommitReporter.reported_append`` with synchronous compaction, so the
  lineage append, trigger evaluation, compaction and poll all sit on
  the writer's blocking path.
- ``ingest_read_sync``: ``commit_sync`` plus one aggregate read of the
  table after every commit, so the read path is measured on a workload
  that cannot race.
- ``ingest_read_async``: the same writer with the default asynchronous
  compaction, plus one aggregate read of the table after every commit.
  Compaction races the writer and the reader; every raised commit,
  failed read, failed job and end-of-run anomaly is counted, never
  retried.
- ``analytics``: the ``bench.HEADLINE`` queries, checked once against
  their DuckDB oracles, then forced with a ``noop`` write in steady
  passes.

Every workload fills a ``Result``: the gated end-to-end metrics, the
full report (each metric with unit and sample base), and the
attempted / failed op counts.  The gated metrics are CPU seconds of
the benchmark's process tree (``procstat.tree_cpu_s``): on a VM whose host
steals time in bursts, wall-clock numbers move run to run by more than
any useful bound, so they are reported, not gated.
"""

from __future__ import annotations

import os
import shutil
import statistics
import tempfile
import threading
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from iceberg_aws_event_based_table_management_spark.operators import jobs, maintenance

import gen
import layers
from procstat import tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
ANALYTICS_STRIDE = 5  # every fifth bench.HEADLINE query (see LAYERS.md)
MIN_STEADY_PASSES = 3
DRAIN_TIMEOUT_S = 120.0
MAX_MEASURE_S = 120.0


def p50(xs: list[float]) -> float:
    return statistics.median(xs)


def p90(xs: list[float]) -> float:
    """Exclusive-method 90th percentile (linear interpolation at
    0.9 * (n + 1)); a single sample is its own percentile."""
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="exclusive")[8]


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    gated: dict[str, float] = field(default_factory=dict)
    report: dict[str, dict] = field(default_factory=dict)

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def put(self, name: str, value: float, unit: str, n: int | None = None) -> None:
        rec = {"value": value, "unit": unit}
        if n is not None:
            rec["n"] = n
        self.report[name] = rec


class CommitWorkload:
    """One writer committing seeded batches into a managed table."""

    def __init__(self, *, sync: bool, read_each: bool, min_commits: int = 0) -> None:
        self.sync = sync
        self.read_each = read_each
        self.min_commits = min_commits
        self.table_dir: str | None = None

    def setup(self, ctx) -> None:
        if self.table_dir:
            shutil.rmtree(self.table_dir, ignore_errors=True)
        self.gen = gen.BatchGenerator(ctx.seed)
        self.table_dir = tempfile.mkdtemp(prefix="table-", dir=ctx.work_dir)
        batch, n_files = self.gen.batch(gen.SETUP_SHAPE)
        self.batches = [batch]
        maintenance.write_table(ctx.spark, ctx.spark.createDataFrame(batch), self.table_dir, n_files)
        self.acked_rows = batch.num_rows
        self.acked_commits = 1  # write_table's own 'append' snapshot
        self.unacked_rows = 0

    def _commit(self, ctx, reporter, res: Result):
        batch, n_files = self.gen.batch()
        df = ctx.spark.createDataFrame(batch)
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            ex = reporter.reported_append(df, self.table_dir, n_files)
        except Exception as e:  # noqa: BLE001 — counted, never retried
            t1 = time.perf_counter()
            res.op(False, f"commit raised: {type(e).__name__}: {str(e)[:200]}")
            self.unacked_rows += batch.num_rows
            return None, t0, t1, False
        t1 = time.perf_counter()
        self.commit_cpus.append(tree_cpu_s() - c0)
        res.op(True)
        self.batches.append(batch)
        self.acked_rows += batch.num_rows
        self.acked_commits += 1
        return ex, t0, t1, True

    def _read(self, ctx, res: Result) -> float | None:
        data = os.path.join(self.table_dir, "data")
        c0 = tree_cpu_s()
        with ctx.tracer.span("read.table") as attrs:
            t0 = time.perf_counter()
            try:
                df = ctx.spark.read.parquet(data)
                n = df.agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity")).collect()[0]["n"]
            except Exception as e:  # noqa: BLE001
                res.op(False, f"read raised: {type(e).__name__}: {str(e)[:200]}")
                return None
            dt = time.perf_counter() - t0
            self.read_cpu_s += tree_cpu_s() - c0
            if ctx.tracer.enabled:
                attrs["files"] = len(df.inputFiles())
        ok = self.acked_rows <= n <= self.acked_rows + self.unacked_rows
        res.op(ok, f"read saw {n} rows, acknowledged {self.acked_rows}")
        return dt if ok else None

    def run(self, ctx, res: Result) -> None:
        spark = ctx.spark
        props = {"optimize-data.synchronous-enabled": "true"} if self.sync else {}
        reporter = jobs.CommitReporter(spark, props)
        dispatched: list[tuple[object, float]] = []
        terminal_at: dict[int, float] = {}
        stop = threading.Event()

        def watch():
            while not stop.is_set():
                for i, (e, _) in enumerate(list(dispatched)):
                    if i not in terminal_at and e.state in jobs.JobState.TERMINAL:
                        terminal_at[i] = time.perf_counter()
                time.sleep(0.005)

        watcher = threading.Thread(target=watch, name="perfbench-watch", daemon=True)
        if not self.sync:  # a sync job is terminal when its commit returns
            watcher.start()
        lat, compacting, reads = [], [], []
        self.commit_cpus: list[float] = []
        self.read_cpu_s = 0.0
        self.measure_start = t_start = time.perf_counter()
        t_end = t_start
        try:
            while True:
                ex, t0, t1, ok = self._commit(ctx, reporter, res)
                t_end = t1
                if ok:
                    lat.append(t1 - t0)
                    compacting.append(ex is not None)
                if ex is not None:
                    dispatched.append((ex, t1))
                if self.read_each:
                    r = self._read(ctx, res)
                    t_end = time.perf_counter()
                    if r is not None:
                        reads.append(r)
                elapsed = t_end - t_start
                # sync: stop only at the end of a compaction cycle, so every
                # run holds whole cycles (the table starts with one pending
                # commit, so the first cycle is nine commits, then ten)
                if (
                    elapsed >= ctx.seconds
                    and len(lat) >= self.min_commits
                    and (not self.sync or ex is not None)
                ):
                    break
                if elapsed >= MAX_MEASURE_S and len(lat) >= self.min_commits:
                    break  # a trigger that never fires ends the run here
            wall = t_end - t_start
            deadline = time.perf_counter() + DRAIN_TIMEOUT_S
            while time.perf_counter() < deadline and any(
                e.state not in jobs.JobState.TERMINAL for e, _ in dispatched
            ):
                time.sleep(0.05)
        finally:
            stop.set()
            if watcher.is_alive():
                watcher.join()
        for i, (e, _) in enumerate(dispatched):
            terminal = e.state in jobs.JobState.TERMINAL
            res.op(terminal, f"compaction job {i} never reached a terminal state")
            if terminal:
                res.op(e.state == jobs.JobState.SUCCEEDED, f"compaction job {i} ended {e.state}: {str(e.error)[:200]}")
                terminal_at.setdefault(i, time.perf_counter())
        if self.sync:
            res.op(any(compacting), "no compaction fired in the measured phase")
        self._check_table(ctx, res)

        # compaction latency: async jobs from dispatch to terminal state;
        # a sync job is what its commit paid beyond an ordinary commit
        if self.sync:
            plain = [x for x, c in zip(lat, compacting) if not c] or lat
            compact = [x - p50(plain) for x, c in zip(lat, compacting) if c]
        else:
            compact = [terminal_at[i] - t for i, (_, t) in enumerate(dispatched) if i in terminal_at]
        n = len(lat)
        res.put("commits_per_s", n / wall, "1/s", n)
        res.put("commit_p50_s", p50(lat), "s", n)
        res.put("commit_p90_s", p90(lat), "s", n)
        res.report["commit_samples_s"] = [round(x, 3) for x in lat]
        res.put("compact_s", p50(compact) if compact else 0.0, "s", len(compact))
        if self.read_each:
            res.put("read_p50_s", p50(reads) if reads else 0.0, "s", len(reads))
            res.put("read_p90_s", p90(reads) if reads else 0.0, "s", len(reads))
        res.put("space_amp", self._space_amp(ctx), "ratio")
        commit_cpu_s = sum(self.commit_cpus)
        res.report["commit_cpu_samples_s"] = [round(x, 2) for x in self.commit_cpus]
        res.put("commit_cpu_s", commit_cpu_s / n, "s", n)
        if self.read_each:
            res.put("read_cpu_s", self.read_cpu_s / len(reads) if reads else 0.0, "s", len(reads))
        # an op is one commit and, where the workload reads, the read after it
        res.gated["cpu_per_op_s"] = (commit_cpu_s + self.read_cpu_s) / n

        self.facts = {
            "jobs_failed": sum(1 for e, _ in dispatched if e.state == jobs.JobState.FAILED),
            "lineage_files": self.lineage_files,
            "orphan_dirs": self.orphan_dirs,
        }

    def layer_metrics(self, ctx) -> dict:
        return layers.control_plane_metrics(ctx.tracer, self.facts, self.measure_start)

    def _check_table(self, ctx, res: Result) -> None:
        spark = ctx.spark
        visible = spark.read.parquet(os.path.join(self.table_dir, "data")).count()
        res.op(visible == self.acked_rows, f"table shows {visible} rows, acknowledged {self.acked_rows}")
        appends = (
            maintenance.read_snapshots(spark, self.table_dir)
            .filter(F.col("operation") == "append")
            .count()
        )
        res.op(appends == self.acked_commits, f"lineage has {appends} appends, acknowledged {self.acked_commits}")
        entries = os.listdir(self.table_dir)
        self.orphan_dirs = sum(1 for d in entries if d.startswith("_staged-"))
        res.op(self.orphan_dirs == 0, f"{self.orphan_dirs} _staged-* dirs left behind")
        snap_dir = os.path.join(self.table_dir, "_snapshots")
        self.lineage_files = sum(1 for f in os.listdir(snap_dir) if f.endswith(".parquet"))

    def _space_amp(self, ctx) -> float:
        import pyarrow as pa
        import pyarrow.parquet as pq

        ref = os.path.join(ctx.work_dir, "space-reference.parquet")
        pq.write_table(pa.concat_tables(self.batches), ref, compression="snappy")
        return tree_bytes(self.table_dir) / os.path.getsize(ref)


def analytics_queries() -> list[str]:
    import bench

    return list(bench.HEADLINE[::ANALYTICS_STRIDE])


class AnalyticsWorkload:
    """The headline queries: oracle-checked once, then timed steady."""

    def setup(self, ctx) -> None:
        import duckdb

        import iceberg_aws_event_based_table_management_spark as engine
        from iceberg_aws_event_based_table_management_spark import io as eio

        engine.load_all_queries()
        self.qmap = engine.query_map()
        self.omap = engine.oracle_map()
        self.names = analytics_queries()
        if getattr(self, "con", None) is not None:
            self.con.close()
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in eio.TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{t}.parquet'")

    def _mismatch(self, ctx, name: str) -> str | None:
        from pyspark.sql.pandas.types import to_arrow_schema

        from tools import check

        sdf = self.qmap[name](ctx.spark, DATA_DIR)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
        if name not in self.omap:
            return None  # rows-only query: running is the check
        s_types = check._sig_map(to_arrow_schema(sdf.schema))
        tbl = self.con.execute(self.omap[name]).arrow()
        d_cols = tbl.schema.names
        d_types = check._sig_map(tbl.schema)
        d_rows = [tuple(row[c] for c in d_cols) for row in tbl.to_pylist()]
        sc, sr = check._normalize(s_cols, s_rows)
        dc, dr = check._normalize(d_cols, d_rows)
        if sc != dc:
            return f"columns spark={sc} duckdb={dc}"
        bad = {c: (s_types[c], d_types[c]) for c in sc if s_types[c] != d_types[c]}
        if bad:
            return f"arrow types differ: {bad}"
        if len(sr) != len(dr):
            return f"rowcount spark={len(sr)} duckdb={len(dr)}"
        if sr != dr:
            return "values differ"
        return None

    def run(self, ctx, res: Result) -> None:
        rng = np.random.default_rng(ctx.seed)
        names = self.names
        # correctness + warm pass (untimed): every result against its oracle
        for name in rng.permutation(names):
            try:
                why = self._mismatch(ctx, name)
            except Exception as e:  # noqa: BLE001
                why = f"raised {type(e).__name__}: {str(e)[:200]}"
            res.op(why is None, f"{name}: {why}")
        # steady passes, each in a fresh seeded order, until --seconds
        runs: dict[str, list[float]] = {n: [] for n in names}
        cpus: dict[str, list[float]] = {n: [] for n in names}
        t_start = time.perf_counter()
        passes = 0
        while passes < MIN_STEADY_PASSES or time.perf_counter() - t_start < ctx.seconds:
            passes += 1
            for name in rng.permutation(names):
                c0 = tree_cpu_s()
                t0 = time.perf_counter()
                try:
                    with ctx.tracer.span("queries.build", query=name):
                        df = self.qmap[name](ctx.spark, DATA_DIR)
                    with ctx.tracer.span("queries.exec", query=name):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001
                    res.op(False, f"{name}: raised {type(e).__name__}: {str(e)[:200]}")
                    continue
                runs[name].append(time.perf_counter() - t0)
                cpus[name].append(tree_cpu_s() - c0)
                res.op(True)
        steady = [p50(v) for v in runs.values() if v]
        res.put("query_suite_s", sum(steady), "s", passes)
        res.put("query_p50_s", p50(steady), "s", len(steady))
        res.put("query_p90_s", p90(steady), "s", len(steady))
        res.report["query_samples_s"] = {k: [round(x, 3) for x in v] for k, v in runs.items()}
        res.report["query_cpu_samples_s"] = {k: [round(x, 2) for x in v] for k, v in cpus.items()}
        # per query the least CPU time over the steady passes, averaged
        # over queries: warm-up, GC debt left by the query before and
        # contention on the host only ever add CPU time to a pass
        cpu = statistics.mean(min(v) for v in cpus.values() if v)
        res.put("query_cpu_s", cpu, "s", sum(len(v) for v in cpus.values()))
        res.gated["cpu_per_op_s"] = cpu

    def layer_metrics(self, ctx) -> dict:
        return layers.query_metrics(ctx.tracer, self.names)


WORKLOADS = {
    "commit_sync": lambda: CommitWorkload(sync=True, read_each=False),
    "ingest_read_sync": lambda: CommitWorkload(sync=True, read_each=True),
    # at least four threshold crossings, so the compaction race can show
    "ingest_read_async": lambda: CommitWorkload(sync=False, read_each=True, min_commits=40),
    "analytics": AnalyticsWorkload,
}
