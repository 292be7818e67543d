"""pysparkdb OLAP benchmark: closed-loop workloads through the engine's
public front door, checked against DuckDB.

Run from the repository root:

    python3 perfbench/run.py --workload ssb_dashboard --seed 1 --seconds 6 --trace 0

Workloads (one client, one query in flight, inputs generated from --seed
at TPC-H scale factor 0.01, see ``datagen``):

* ``ssb_dashboard`` — the 13 SSB flight queries as parameterized templates,
  one seeded set of values per query bound through ``Engine.sql(args=...)``
  in ``hybrid`` mode with the segment cache (default 1 GiB) sized far above
  the working set (about 1.4 MB of column segments): repeated queries over
  shared column sets, where the engine's resolution and cache routing show.
* ``ingest_refresh`` — seeded batches of 15 000 lineitem rows appended with
  ``snapshot_append`` to a versioned store; after every append
  ``Engine.attach_snapshot(replace=True)`` pins the new version and three
  aggregates run over it in ``hybrid`` mode. The segment cache is sized at
  half the live working set seen on the correctness cycle (dimension
  segments plus the current version's segments, about 1.4 MB), so every
  refresh admits and evicts. Every ``APPENDS_PER_CYCLE`` appends the store
  is compacted, then a fresh store starts, so the run stays stationary. The
  store lives under ``.perfbench_work/run-<pid>/store/cycle-<n>`` in the
  checkout; its flush policy is the engine's: Spark writes the parquet
  files, the manifest is published by an atomic rename, nothing is fsynced,
  so the data sits in the OS page cache.

Both workloads run in one process with one query in flight (a closed loop
with one client) on ``local[<cores>]`` with ``<cores>`` shuffle partitions
and the Spark UI off. No workload runs a Python or Arrow UDF. There is no
TPC-H workload: a pass of the 22 TPC-H queries takes about 10 s warm and
20 s cold on ``local[4]`` at any scale, more than a run of about a minute
can both warm up and measure.

Reported times are as measured. Beside them every run records host
attribution: CPU steal and pressure, disk counters, JVM GC time, and the
time of a fixed pure-Python loop (``host.cpu_probe``) taken just before and
just after the timed region, which shows a change in the host's per-core
speed between runs. Benchmark bookkeeping inside the timed region (store
clean-up, byte accounting, manifest reads) is taken out of the timed wall.
The JVM runs with the engine's own session settings; no heap size is fixed,
so ``peak_rss_mb`` follows the memory the program touches.

Metric names, units and directions come from ``BENCHMARK.json``; the
layer-to-metric map (``MOVES``) is kept here.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the same
workload with spans around every call into the engine's layers and prints
the per-layer metrics. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it give
every pass time, the host attribution and, traced, which end-to-end metric
each layer metric should move and the tracing overhead against the last
untraced report. Reports and span dumps are kept under ``.perfbench_out/``.
The run exits non-zero on a wrong result or a failed operation.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import duckref
import host
from spans import Tracer
from stats import failed_share, kind_geomean, tail
from workloads import INGEST, LIVE, SSB, ingest_args, permuted, ssb_args

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

CONVERGED_REL = 0.10     # warm-up converged: timed pass within 10% of warm pass
ATTACH_REPEATS = 3       # set-up attaches per run; setup_s counts the median
PROBES = 5               # host speed probes before and after the timed region


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class _SpannedCollect:
    """Hands ``collect_with_metrics`` a frame whose ``collect`` runs inside
    an ``engine.collect`` span, so the metrics walk is the self time of the
    enclosing ``plans.metrics`` span."""

    def __init__(self, df, tracer):
        self._df, self._tracer = df, tracer

    @property
    def _jdf(self):
        return self._df._jdf

    def collect(self):
        with self._tracer.span("engine.collect"):
            return self._df.collect()


class Bench:
    """One run: session, timed loop, counters and the report."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        self.seed, self.seconds = seed, seconds
        self.work = work
        self.tracer = Tracer(trace)
        self.rng = np.random.default_rng([seed, 2])   # order and bound values
        self.cores = len(os.sched_getaffinity(0))
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.pass_times: list[tuple[str, float]] = []
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.timed = False
        self.timed_queries = 0
        self.qid = 0
        self.aside_s = 0.0   # bookkeeping time inside the timed region
        # traced counters, summed over the timed region
        self.pass_jobs: list[tuple[int, int]] = []   # (jobs, tasks) per timed pass
        self.plan_counts: dict[str, int] = defaultdict(int)
        self.cache_hits = self.cache_misses = self.evictions = 0
        self.notes: list[str] = []

    # -- session --------------------------------------------------------------
    def start(self):
        from pysparkdb.session import get_spark

        confs = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.shuffle.partitions": str(self.cores),
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        with self.tracer.span("session.start"):
            self.spark = get_spark("perfbench", master=f"local[{self.cores}]",
                                   extra_confs=confs)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = host.Jvm(self.spark)

    def stop(self):
        """Stop the session and wait for the JVM process to exit."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()   # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    def attach(self, data_dir: str):
        """ATTACH_REPEATS fresh engines over ``data_dir``; keeps the last
        and returns the attach times."""
        from pysparkdb.engine import Engine

        times = []
        for _ in range(ATTACH_REPEATS):
            t = time.perf_counter()
            with self.tracer.span("catalog.attach"):
                eng = Engine(self.spark).attach(data_dir)
            times.append(time.perf_counter() - t)
        self.eng = eng
        return times

    @property
    def cache(self):
        # the manager's counters are public; Engine keeps it privately
        return self.eng._segment_cache

    @contextmanager
    def aside(self):
        """Benchmark bookkeeping: inside the timed region its time is taken
        out of the timed wall."""
        t = time.perf_counter()
        try:
            yield
        finally:
            if self.timed:
                self.aside_s += time.perf_counter() - t

    # -- operations -------------------------------------------------------------
    def op(self, what: str, fn):
        """Run one non-query operation, counting it and its failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # a failed operation is a result to report
            self.failed += 1
            self.errors.append(f"{what}: {type(exc).__name__}: {exc}"[:500])
            raise

    def query(self, kind: str, sql: str, args: dict, expect=None, compare_mode=None):
        """Run one query (Engine.sql through collect) and return its rows.

        ``expect`` is a DuckDB result to check against; ``compare_mode``
        re-runs the query in that mode and requires identical rows. Both
        checks run outside the latency."""
        tr = self.tracer
        self.attempted += 1
        self.qid += 1
        traced_timed = tr.enabled and self.timed
        tr.query_id = self.qid
        try:
            if traced_timed:
                self._trace_before()
            t = time.perf_counter()
            with tr.span("bench.query"):
                with tr.span("engine.resolve"):
                    df = self.eng.sql(sql, args=args)
                if tr.enabled:
                    from pysparkdb.plans.metrics import collect_with_metrics

                    with tr.span("engine.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tr.span("plans.metrics.collect_with_metrics"):
                        rows, ops = collect_with_metrics(_SpannedCollect(df, tr))
                else:
                    rows = df.collect()
            dt = time.perf_counter() - t
            if traced_timed:
                self._trace_after(ops)
        except Exception as exc:  # counted; the run reports and exits non-zero
            self.failed += 1
            self.errors.append(f"{kind} {args}: {type(exc).__name__}: {exc}"[:500])
            return None
        finally:
            tr.query_id = None
        if self.timed:
            self.lat[kind].append(dt)
            self.timed_queries += 1
        bad = None
        if expect is not None:
            bad = duckref.mismatch(rows, df.columns, expect)
        if bad is None and compare_mode is not None:
            mode = self.eng.mode
            try:
                other = self.eng.sql(sql, args=args, mode=compare_mode).collect()
                if duckref.canonical(other, df.columns) != duckref.canonical(rows, df.columns):
                    bad = f"{compare_mode} result differs from {mode}"
            except Exception as exc:  # the check itself failed: a failed operation
                bad = f"{compare_mode} run failed: {type(exc).__name__}: {exc}"
            finally:
                self.eng.set_mode(mode)
        if bad is not None:
            self.failed += 1
            self.errors.append(f"{kind} {args}: wrong result: {bad}"[:500])
        return rows

    def _trace_before(self):
        c = self.cache
        self._cache0 = ((c.hit_count, c.miss_count, set(c.entries))
                        if c is not None else None)

    def _pass_jobs(self, group: str) -> tuple[int, int]:
        """(jobs, completed tasks) Spark ran under job group ``group``."""
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                st = tracker.getStageInfo(sid)
                tasks += st.numCompletedTasks if st else 0
        return len(jobs), tasks

    def _trace_after(self, ops: list[dict]):
        for op in ops:
            m, node = op["metrics"], op["node"]
            if node.startswith("Scan "):
                self.plan_counts["scan_rows"] += m.get("numOutputRows", 0)
                self.plan_counts["scan_bytes"] += m.get("filesSize", 0)
            self.plan_counts["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
            self.plan_counts["spill_bytes"] += m.get("spillSize", 0)
        c = self.cache
        if c is not None and self._cache0 is not None:
            h0, m0, keys0 = self._cache0
            self.cache_hits += c.hit_count - h0
            self.cache_misses += c.miss_count - m0
            self.evictions += len(keys0 - set(c.entries))

    # -- phases -----------------------------------------------------------------
    def run(self, run_pass, warm_passes: int):
        """Warm up, then measure. ``run_pass(gate)`` runs one pass of the
        workload; ``gate=True`` also checks the results.

        Warm-up is the correctness pass, which pays the cold start of every
        query kind, then ``warm_passes`` pure passes. The timed region runs
        whole passes, so every kind is sampled equally, until --seconds
        have passed. With a warm pass, warm-up counts as converged when the
        first timed pass is within CONVERGED_REL of the last warm pass."""
        for gate in (True, *([False] * warm_passes)):
            t = time.perf_counter()
            run_pass(gate)
            self.pass_times.append(("gate" if gate else "warm", time.perf_counter() - t))
        self.setup_done = process_age_s()

        probe0 = [host.cpu_probe() for _ in range(PROBES)]
        devices = host.disks()
        self.h0, self.cpu0, self.gc0 = host.snapshot(devices), self.jvm.cpu_s(), self.jvm.gc_s()
        self.timed = True
        self.t_timed = time.perf_counter()
        while time.perf_counter() - self.t_timed < self.seconds:
            group = f"perfbench-pass-{len(self.pass_times)}"
            if self.tracer.enabled:
                self.spark.sparkContext.setJobGroup(group, "perfbench timed pass")
            t = time.perf_counter()
            run_pass(False)
            self.pass_times.append(("timed", time.perf_counter() - t))
            if self.tracer.enabled:
                with self.aside():
                    self.pass_jobs.append(self._pass_jobs(group))
        self.timed_wall = time.perf_counter() - self.t_timed - self.aside_s
        self.warm_drift = None
        if warm_passes:
            warm, first = self.pass_times[warm_passes][1], self.pass_times[warm_passes + 1][1]
            self.warm_drift = first / warm - 1.0
        self.timed = False
        self.cpu1, self.gc1 = self.jvm.cpu_s(), self.jvm.gc_s()
        self.jvm_hwm_mb, self.heap_peak_mb = self.jvm.hwm_mb(), self.jvm.heap_peak_mb()
        self.host = host.attribution(self.h0, host.snapshot(devices), self.timed_wall)
        probe1 = [host.cpu_probe() for _ in range(PROBES)]
        self.host["cpu_probe_s"] = [statistics.median(probe0), statistics.median(probe1)]
        self.host["bookkeeping_s"] = self.aside_s

    # -- report -------------------------------------------------------------------
    def end_to_end(self, setup_s: float) -> dict[str, float]:
        """The end-to-end figures, plus query_tail_s and peak_rss_mb, which
        the traced run reports as per-layer metrics."""
        samples = [x for v in self.lat.values() for x in v]
        tail_s, tail_pct = tail(samples)
        self.notes.append(f"query_tail_s is the p{tail_pct:.1f} of {len(samples)} "
                          f"timed query latencies")
        return {
            "setup_s": setup_s,
            "query_geomean_s": kind_geomean(self.lat),
            "query_tail_s": tail_s,
            "throughput_qps": self.timed_queries / self.timed_wall,
            "peak_rss_mb": self.jvm_hwm_mb + host.python_max_rss_mb(),
        }

    def layers(self, extra: dict[str, float]) -> dict[str, float]:
        tr = self.tracer
        tot = tr.totals(self.t_timed)
        q = max(self.timed_queries, 1)

        def mean(name):
            t, n = tot.get(name, (0.0, 0))
            return t / n if n else 0.0

        all_tot = tr.totals()
        lookups = self.cache_hits + self.cache_misses
        out = {
            "session.start_s": all_tot["session.start"][0],
            "catalog.attach_s": all_tot["catalog.attach"][0] / all_tot["catalog.attach"][1],
            "engine.resolve_s": mean("engine.resolve"),
            "engine.plan_s": mean("engine.plan"),
            "engine.collect_s": mean("engine.collect"),
            "engine.jobs_per_pass": statistics.median(j for j, _ in self.pass_jobs),
            "engine.tasks_per_pass": statistics.median(t for _, t in self.pass_jobs),
            "engine.core_util": (self.cpu1 - self.cpu0) / (self.timed_wall * self.cores),
            "engine.gc_s": self.gc1 - self.gc0,
            "engine.heap_peak_mb": self.heap_peak_mb,
            "sources.scan_rows": self.plan_counts["scan_rows"] / q,
            "sources.scan_bytes": self.plan_counts["scan_bytes"] / q,
            "engine.shuffle_bytes": self.plan_counts["shuffle_bytes"] / q,
            "engine.spill_bytes": self.plan_counts["spill_bytes"] / q,
            "plans.cache.hit_ratio": self.cache_hits / lookups if lookups else 0.0,
            "plans.cache.evictions": float(self.evictions),
            "plans.cache.used_bytes": float(self.cache.used if self.cache is not None else 0),
            "failed_share": failed_share(self.failed, self.attempted),
        }
        for layer, s in tr.self_times(self.t_timed).items():
            out[f"self.{layer}_s"] = s / q
        out.update(extra)
        return out


# -- workloads -------------------------------------------------------------------

APPENDS_PER_CYCLE = 4
INGEST_BATCHES = 12      # distinct batches; cycles reuse them in turn
INGEST_BATCH_ROWS = 15000  # a cycle's 4 appends hold sf0.01 of lineitem
INGEST_CACHE_SHARE = 0.5  # cache capacity as a share of the live working set


def run_ssb(b: Bench, data_dir: str, paths: dict, tables: dict) -> list[float]:
    cities = (
        [f"NATION_{n}_{k % 10}" for k, n in zip(tables["customer"]["c_custkey"].to_pylist(),
                                                 tables["customer"]["c_nationkey"].to_pylist())],
        [f"NATION_{n}_{k % 10}" for k, n in zip(tables["supplier"]["s_suppkey"].to_pylist(),
                                                 tables["supplier"]["s_nationkey"].to_pylist())],
    )
    attach_times = b.attach(data_dir)
    b.eng.set_mode("hybrid")
    con = duckref.connect(paths)
    kinds = list(SSB)
    params = {kind: ssb_args(kind, b.rng, cities) for kind in kinds}

    def run_pass(gate: bool):
        for kind in permuted(b.rng, kinds):
            args = params[kind]
            expect = duckref.expected(con, SSB[kind], args) if gate else None
            b.query(kind, SSB[kind], args, expect=expect,
                    compare_mode="pushdown" if gate else None)

    # the correctness pass runs every kind in hybrid mode and leaves the
    # cache holding the whole working set; there is no separate warm pass
    b.run(run_pass, warm_passes=0)
    b.notes.append(f"segment cache: capacity {b.cache.capacity} bytes, working set "
                   f"{b.cache.used} bytes in {len(b.cache.entries)} segments")
    return attach_times


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(p, f))
               for p, _, files in os.walk(d) for f in files)


def _manifest_files(root: str, version: int) -> list[str]:
    with open(os.path.join(root, "_manifests", f"v{version}.json")) as f:
        return [os.path.join(root, p) for p in json.load(f)["files"]]


def run_ingest(b: Bench, data_dir: str, paths: dict, tables: dict) -> list[float]:
    from pysparkdb.sources.versioned import snapshot_append, snapshot_compact

    batch_paths = []
    os.makedirs(os.path.join(b.work, "batches"))
    for i, t in enumerate(datagen.ingest_batches(b.seed, INGEST_BATCHES, INGEST_BATCH_ROWS)):
        # UTC-adjusted timestamps read back as Spark TIMESTAMP
        t = t.set_column(t.schema.get_field_index("l_shipdate"), "l_shipdate",
                         t["l_shipdate"].cast(pa.timestamp("us", tz="UTC")))
        batch_paths.append(os.path.join(b.work, "batches", f"b{i}.parquet"))
        pq.write_table(t, batch_paths[-1])
    attach_times = b.attach(data_dir)
    b.eng.set_mode("hybrid")
    con = duckref.connect(paths)
    spark, tr = b.spark, b.tracer
    st = {"cycle": 0, "batch": 0, "root": None, "live_ws": 0}
    params = {kind: ingest_args(kind, b.rng) for kind in INGEST}
    lags: list[float] = []
    counts = defaultdict(float)

    def refresh(write, gate: bool, is_append: bool):
        """Write a version, attach it, run the aggregates over it. With
        ``gate`` every result is checked against DuckDB over the version's
        manifest files and against pushdown mode."""
        root = st["root"]
        with b.aside():
            grown0 = _dir_bytes(root) if b.timed else 0
        t0 = time.perf_counter()
        v = b.op("write", write)
        t_write = time.perf_counter() - t0
        t1 = time.perf_counter()
        with tr.span("catalog.attach_snapshot"):
            b.op("attach_snapshot",
                 lambda: b.eng.attach_snapshot(LIVE, root, version=v, replace=True))
        t_attach = time.perf_counter() - t1
        if gate:
            duckref.register_files(con, LIVE, _manifest_files(root, v))
        for i, kind in enumerate(["fresh_totals"] + permuted(b.rng, ["brand_revenue",
                                                                     "nation_revenue"])):
            args = params[kind]
            expect = duckref.expected(con, INGEST[kind], args) if gate else None
            b.query(kind, INGEST[kind], args, expect=expect,
                    compare_mode="pushdown" if gate else None)
            if i == 0 and is_append and b.timed:
                lags.append(time.perf_counter() - t0)
        with b.aside():
            origin = f"{LIVE}@{root}@v{v}"
            st["live_ws"] = max(st["live_ws"], sum(
                e.size_bytes for (name, _), e in b.cache.entries.items()
                if not name.startswith(f"{LIVE}@") or name == origin))
            if b.timed:
                counts["bytes_written"] += _dir_bytes(root) - grown0
                counts["versions"] += 1
                counts["files"] += len(_manifest_files(root, v))
                counts["attach_snapshot_s"] += t_attach
                if is_append:
                    counts["appends"] += 1
                    counts["append_s"] += t_write
                else:
                    counts["compactions"] += 1
                    counts["compact_s"] += t_write

    def append():
        path = batch_paths[st["batch"] % INGEST_BATCHES]
        st["batch"] += 1
        with tr.span("sources.versioned.append"):
            return snapshot_append(spark.read.parquet(path), st["root"])

    def compact():
        with tr.span("sources.versioned.compact"):
            return snapshot_compact(spark, st["root"])

    def cycle(gate: bool):
        """A fresh store: APPENDS_PER_CYCLE refreshes, then a compaction.
        Each cycle gets its own root (the cache identity of a version is
        root@vN), and the previous cycle's store is deleted. On the
        correctness cycle the first appended version and the compacted one
        are checked."""
        if st["root"] is not None:
            with b.aside():
                shutil.rmtree(st["root"])
        st["cycle"] += 1
        st["root"] = os.path.join(b.work, "store", f"cycle-{st['cycle']}")
        for i in range(APPENDS_PER_CYCLE):
            yield lambda i=i: refresh(append, gate and i == 0, True)
        yield lambda: refresh(compact, gate, False)

    def run_pass(gate: bool):
        for step in cycle(gate):
            step()
        if gate:
            # size the cache below the live working set of a cycle, as
            # measured on the correctness cycle with the default capacity
            cap = int(st["live_ws"] * INGEST_CACHE_SHARE)
            b.notes.append(f"segment cache: live working set {st['live_ws']} bytes, "
                           f"capacity {cap} bytes")
            b.eng.set_mode("hybrid", cache_capacity_bytes=cap)

    # the correctness cycle ends by rebuilding the cache at its smaller
    # capacity; one pure cycle brings the rebuilt cache to its steady
    # admit/evict pattern before timing
    b.run(run_pass, warm_passes=1)

    def per(key, n):
        return counts[key] / counts[n] if counts[n] else 0.0

    b.ingest_layers = {
        "fresh_lag_s": statistics.median(lags) if lags else 0.0,
        "catalog.attach_snapshot_s": per("attach_snapshot_s", "versions"),
        "sources.versioned.append_s": per("append_s", "appends"),
        "sources.versioned.bytes_written": per("bytes_written", "appends"),
        "sources.versioned.files_per_version": per("files", "versions"),
        "sources.versioned.compact_s": per("compact_s", "compactions"),
    }
    b.notes.append(f"ingest: {int(counts['appends'])} appends of {INGEST_BATCH_ROWS} rows, "
                   f"{int(counts['compactions'])} compactions, {len(lags)} fresh-lag samples")
    return attach_times


WORKLOADS = {"ssb_dashboard": run_ssb, "ingest_refresh": run_ingest}

# Which end-to-end metric each per-layer metric of BENCHMARK.json should
# move, and on which workload. Metrics of a layer a workload does not use
# read 0 there.
MOVES = {
    "session.start_s": ("setup_s", "both"),
    "catalog.attach_s": ("setup_s", "both"),
    "catalog.attach_snapshot_s": ("fresh_lag_s, throughput_qps", "ingest_refresh"),
    "engine.resolve_s": ("query_geomean_s, throughput_qps",
                         "ssb_dashboard (hybrid routing re-resolves every query)"),
    "engine.plan_s": ("query_geomean_s", "both"),
    "engine.collect_s": ("query_geomean_s, throughput_qps", "both"),
    "engine.jobs_per_pass": ("query_geomean_s", "both"),
    "engine.tasks_per_pass": ("query_geomean_s", "both"),
    "engine.core_util": ("throughput_qps", "both"),
    "engine.gc_s": ("query_tail_s", "both"),
    "engine.heap_peak_mb": ("peak_rss_mb", "both"),
    "sources.scan_rows": ("query_geomean_s", "ingest_refresh; ~0 on ssb_dashboard"),
    "sources.scan_bytes": ("query_geomean_s", "ingest_refresh; ~0 on ssb_dashboard"),
    "engine.shuffle_bytes": ("query_geomean_s", "both"),
    "engine.spill_bytes": ("query_tail_s", "both"),
    "plans.cache.hit_ratio": ("query_geomean_s",
                              "ssb_dashboard; low by construction on ingest_refresh"),
    "plans.cache.evictions": ("query_tail_s, fresh_lag_s, peak_rss_mb",
                              "ingest_refresh; ~0 on ssb_dashboard"),
    "plans.cache.used_bytes": ("peak_rss_mb (through engine.heap_peak_mb)", "both"),
    "sources.versioned.append_s": ("fresh_lag_s, throughput_qps", "ingest_refresh"),
    "sources.versioned.bytes_written": ("fresh_lag_s", "ingest_refresh"),
    "sources.versioned.files_per_version": ("query_geomean_s, query_tail_s", "ingest_refresh"),
    "sources.versioned.compact_s": ("query_tail_s, throughput_qps", "ingest_refresh"),
    "fresh_lag_s": ("(end to end, ingest only)", "ingest_refresh"),
    "query_tail_s": ("(end to end; too few samples per run to repeat)", "both"),
    "peak_rss_mb": ("(end to end; JVM heap growth makes it vary ~18% between runs)", "both"),
    "failed_share": ("(end to end, all operations)", "both"),
    "self.bench_s": ("query_geomean_s", "both"),
    "self.catalog_s": ("throughput_qps", "ingest_refresh"),
    "self.engine_s": ("query_geomean_s", "both"),
    "self.plans.metrics_s": ("(tracing cost only)", "both"),
    "self.sources.versioned_s": ("throughput_qps", "ingest_refresh"),
}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pysparkdb", "engine.py")):
        print(f"perfbench: no pysparkdb package under {ROOT}; run from a "
              f"repository checkout", file=sys.stderr)
        return 2
    spec = load_spec()
    layer_names = {m["name"] for m in spec["per_layer"]}
    if layer_names != set(MOVES):
        print(f"perfbench: BENCHMARK.json per_layer and MOVES differ: "
              f"{sorted(layer_names ^ set(MOVES))}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # every process the run starts keeps its scratch files under ``work``
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    b = Bench(a.seed, a.seconds, bool(a.trace), work)
    try:
        data_dir = os.path.join(work, "data")
        tables = datagen.tables(a.seed)
        paths = datagen.write_tables(a.seed, data_dir)
        b.start()
        attach_times = WORKLOADS[a.workload](b, data_dir, paths, tables)
    finally:
        b.stop()
        shutil.rmtree(work, ignore_errors=True)
    setup_s = b.setup_done - (sum(attach_times) - statistics.median(attach_times))
    e2e = b.end_to_end(setup_s)
    report = {
        "end_to_end": e2e, "pass_times": b.pass_times,
        "warm_up_drift": b.warm_drift,
        "warm_up_converged": (None if b.warm_drift is None
                              else abs(b.warm_drift) <= CONVERGED_REL), "host": b.host,
        "jvm_gc_s": b.gc1 - b.gc0, "attach_s": attach_times,
        "kind_median_s": {k: statistics.median(v) for k, v in sorted(b.lat.items())},
        "queries_per_kind": {k: len(v) for k, v in sorted(b.lat.items())},
        "notes": b.notes, "errors": b.errors,
    }
    os.makedirs(OUT, exist_ok=True)
    name = f"{a.workload}-trace{a.trace}"
    listed = spec["per_layer"] if a.trace else spec["end_to_end"]
    measured = e2e
    if a.trace:
        measured = b.layers({**getattr(b, "ingest_layers", {}),
                             "query_tail_s": e2e["query_tail_s"],
                             "peak_rss_mb": e2e["peak_rss_mb"]})
        unknown = set(measured) - set(MOVES)
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        report["layer_moves"] = {k: f"{v[0]} on {v[1]}" for k, v in MOVES.items()}
        b.tracer.dump(os.path.join(OUT, f"{name}-spans.json"))
        try:
            with open(os.path.join(OUT, f"{a.workload}-trace0.json")) as f:
                base = json.load(f)["end_to_end"]
            report["tracing_overhead"] = {k: e2e[k] - base[k] for k in e2e}
        except (OSError, KeyError, ValueError):
            report["tracing_overhead"] = "no untraced report of this workload yet"
    with open(os.path.join(OUT, f"{name}.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, **report}, f, indent=1)
    for k, v in report.items():
        print(f"{k}: {json.dumps(v)}")
    correct = b.failed == 0
    print(json.dumps({
        "correct": correct, "attempted": b.attempted, "failed": b.failed,
        "metrics": {m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in listed},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
