"""Medallion benchmark: backfill, fleet ticks and dashboard reads.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout and drives the program's public entry
points (``streaming.ingest``, ``plans.etl``, ``operators.analytics``,
``sources.parquet``, ``session``) on telemetry that ``gen.py`` writes
from the seed. One closed-loop client issues the operations of the
timed phase one after another; every operation's output is checked
against the generator's truth table outside the timed span.

Workloads:

* ``backfill``: a backlog of raw JSON goes through ingest, batch
  bronze->silver and silver->gold; one drain is one operation.
* ``dashboard``: the dashboard query mix, round-robin, over the gold and
  silver that set-up built from the fleet history, in a fresh session.
* ``fleet_ticks``: 5-minute ticks of fleet telemetry land in a watched
  directory of one long-lived session; each tick runs ingest,
  incremental silver, gold and the KPI query.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). Lines before it print every
metric with its unit, the session layout and the sample counts.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
TMP = os.path.join(WORK, "tmp")
sys.path[:0] = [HERE, ROOT]
os.environ["TZ"] = "UTC"  # collected timestamps are naive UTC
time.tzset()

import gen  # noqa: E402
from checks import Truth, check_count, check_gold, check_query  # noqa: E402
from measure import BatchListener, RssSampler, Tracer, overhead_ms  # noqa: E402

# --- pinned session layout ---------------------------------------------
CPUS = len(os.sched_getaffinity(0))
SHUFFLE_PARTITIONS = 8
# a fixed heap size: how often G1 collects, and so the timings, then do
# not depend on when it chose to grow the heap
DRIVER_MEMORY = "1g"
JVM_OPTIONS = "-Xms1g"
SETUP_REPS = 3
STREAM_TIMEOUT_S = 120
TICK_TIMEOUT_S = 60.0  # a failed tick is ranked at this freshness
# the fewest operations of a run: backfill drains, ticks and dashboard
# rounds of the 7 queries. Nothing is left out as warm-up: a catch-up
# after an outage starts a job of its own, and a dashboard a process of
# its own, so users pay their warm-up. A backfill drain takes longer
# than the --seconds of BENCHMARK.json, so a run makes one, in the JVM
# that set-up started.
MIN_OPS = {"backfill": 1, "fleet_ticks": 5, "dashboard": 8}
QUERIES = (
    "kpi",
    "energy_by_device_type",
    "daily_energy_trend",
    "daily_cost_trend",
    "health_scatter",
    "live_readings",
    "data_status",
)
SILVER_STEPS = ("parse", "clean", "dedup", "quality", "enrich", "windows")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _p90(xs):
    return statistics.quantiles(xs, n=10)[-1] if len(xs) >= 2 else _median(xs)


def _count_files(path: str) -> int:
    return sum(
        1
        for _root, _dirs, files in os.walk(path)
        for f in files
        if f.startswith("part-")
    )


class Bench:
    """State of one benchmark process: the session, the work directory,
    the tracer and the operation tallies."""

    def __init__(self, args):
        self.args = args
        self.spark = None
        self.tracer = Tracer(str(os.getpid()))
        self.listener = BatchListener() if args.trace else None
        self.attempted = 0
        self.failed = 0
        self.boot_s: list[float] = []
        self.heap_mb: list[float] = []
        self.layout: dict = {}
        self.layer: dict = {}

    # --- session --------------------------------------------------------

    def boot(self, cpus: int = CPUS) -> None:
        """Stop any running session and start a fresh one with the pinned
        layout."""
        from big_data_for_smart_houses_spark.session import get_spark

        self.stop_session()
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.args.workload}",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf={
                "spark.local.dir": TMP,
                "spark.driver.extraJavaOptions": f"{JVM_OPTIONS} -Djava.io.tmpdir={TMP}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.boot_s.append(time.perf_counter() - t0)
        if cpus == CPUS:
            self.layout = self._layout()
        if self.args.trace:
            self.tracer.attach(self.spark)
            self.spark.streams.addListener(self.listener)

    def trace(self, on: bool) -> None:
        """Trace the layer calls that follow, or stop tracing them (a
        no-op in an untraced run)."""
        if not self.args.trace:
            return
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        self.listener.active = on
        self.tracer.enabled = on

    def stop_session(self) -> None:
        if self.spark is not None:
            if self.listener is not None:
                self.trace(False)
                self.spark.streams.removeListener(self.listener)
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the driver JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def retained_heap(self) -> None:
        """Record the driver JVM's heap in use after a full collection:
        what the operation that just ended left behind (caches, leaks,
        the status store), not garbage. Called between operations,
        outside their timed spans."""
        jvm = self.spark.sparkContext._jvm
        jvm.System.gc()
        used = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.heap_mb.append(used.getHeapMemoryUsage().getUsed() / (1024.0 * 1024.0))

    def _layout(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "master": sc.master,
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "spark_version": self.spark.version,
        }

    # --- operations -----------------------------------------------------

    def record(self, what: str, errors: list[str]) -> bool:
        """Count one attempted operation; report and count its failure."""
        self.attempted += 1
        if errors:
            self.failed += 1
            print(f"FAILED {what}: " + "; ".join(errors[:5]), file=sys.stderr)
        return not errors

    def ingest(self, raw: str, bronze: str, ckpt: str) -> None:
        from big_data_for_smart_houses_spark.streaming.ingest import (
            parse_telemetry_json,
            write_bronze_stream,
        )

        with self.tracer.span("ingest"):
            q = write_bronze_stream(
                parse_telemetry_json(self.spark.readStream.text(raw)),
                bronze,
                ckpt,
                available_now=True,
            )
            self._await(q)

    def _await(self, q) -> None:
        if not q.awaitTermination(STREAM_TIMEOUT_S):
            q.stop()
            raise TimeoutError(f"stream {q.id} still running after {STREAM_TIMEOUT_S} s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    def silver_batch(self, bronze: str, silver: str, catalog: str) -> None:
        from big_data_for_smart_houses_spark.plans.etl import run_bronze_to_silver

        with self.tracer.span("silver"):
            run_bronze_to_silver(self.spark, bronze, silver, catalog)

    def silver_incremental(self, bronze: str, silver: str, ckpt: str, catalog: str) -> None:
        from big_data_for_smart_houses_spark.plans.etl import (
            run_bronze_to_silver_incremental,
        )

        with self.tracer.span("silver"):
            run_bronze_to_silver_incremental(self.spark, bronze, silver, ckpt, catalog)

    def gold(self, silver: str, gold_root: str) -> None:
        from big_data_for_smart_houses_spark.plans.etl import run_silver_to_gold

        with self.tracer.span("gold"):
            run_silver_to_gold(self.spark, silver, gold_root)

    def query(self, name: str, silver: str, gold_root: str, want: dict):
        """Build and run one dashboard query as the dashboard does: read
        the tables it shows, compose the query, collect. Returns
        (result, ms)."""
        from big_data_for_smart_houses_spark.operators import analytics as A
        from big_data_for_smart_houses_spark.sources.parquet import read_silver

        def read(table):
            if table == "silver":
                return read_silver(self.spark, silver)
            return self.spark.read.parquet(f"{gold_root}/{table}")

        build = {
            "kpi": lambda: A.kpi_with_fallback(
                read("daily_energy_consumption"),
                read("silver"),
                read("daily_business_summary"),
                read("device_health_metrics"),
                want["today"],
                want["now"],
            ),
            "energy_by_device_type": lambda: A.energy_by_device_type(
                read("daily_energy_consumption")
            ),
            "daily_energy_trend": lambda: A.daily_energy_trend(
                read("daily_energy_consumption")
            ),
            "daily_cost_trend": lambda: A.daily_cost_trend(
                read("daily_energy_consumption")
            ),
            "health_scatter": lambda: A.health_scatter(read("device_health_metrics")),
            "live_readings": lambda: A.live_readings(read("silver"), want["now"]),
            "data_status": lambda: A.data_status(
                {
                    "silver": read("silver"),
                    "daily_energy_consumption": read("daily_energy_consumption"),
                }
            ),
        }[name]
        sc = self.spark.sparkContext
        group = f"perfbench-{self.attempted}"
        if self.tracer.enabled:
            sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        with self.tracer.span(f"analytics.{name}.build"):
            df = build()
        with self.tracer.span(f"analytics.{name}.run"):
            rows = df.collect()
        ms = (time.perf_counter() - t0) * 1000.0
        if self.tracer.enabled:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.layer.setdefault("jobs", []).append(
                len(sc.statusTracker().getJobIdsForGroup(group))
            )
        return _collected(name, rows), ms


def _collected(name: str, rows):
    """Plain-Python form of a query result, as the checks expect it."""
    if name == "kpi":
        return rows[0].asDict()
    if name == "energy_by_device_type":
        return {r.device_type: r.energy_kwh for r in rows}
    if name == "daily_energy_trend":
        return [(r.date, r.energy_kwh) for r in rows]
    if name == "daily_cost_trend":
        return [(r.date, r.cost) for r in rows]
    if name == "health_scatter":
        return {
            r.device_id: {
                "device_type": r.device_type,
                "health_score": r.health_score,
                "failure_probability": r.failure_probability,
                "total_alerts": r.total_alerts,
            }
            for r in rows
        }
    if name == "live_readings":
        return [(r.device_id, r.timestamp, r.temperature, r.power_usage) for r in rows]
    if name == "data_status":
        out = {}
        for r in rows:
            parse = dt.datetime.fromisoformat if r.table == "silver" else dt.date.fromisoformat
            out[r.table] = (r.n_rows, parse(r.min_ts), parse(r.max_ts))
        return out
    raise ValueError(name)


def output_errors(silver: str, gold_root: str, truth: Truth, part: int) -> list[str]:
    """Silver row count and gold per-date totals, read from disk,
    against the truth."""
    return check_count(
        "silver", truth.written_rows(silver), truth.silver_rows(part)
    ) + check_gold(truth.written_gold_by_date(gold_root), truth.gold_by_date(part))


# --- set-up ---------------------------------------------------------------


def setup(b: Bench, preset: str, history: bool) -> dict:
    """Boot a session, generate the inputs and (for the fleet) build the
    history through ingest, incremental silver and gold; repeated
    SETUP_REPS times, the last repetition's state is kept."""
    times = []
    for rep in range(SETUP_REPS):
        last = rep == SETUP_REPS - 1
        d = os.path.join(WORK, f"setup{rep}")
        b.stop_session()  # the previous repetition's teardown is not set-up
        t0 = time.perf_counter()
        b.boot()
        m = gen.generate(os.path.join(d, "in"), b.args.seed, gen.PRESETS[preset])
        m["raw"] = os.path.join(d, "raw")
        os.makedirs(m["raw"])
        for k in ("bronze", "silver", "gold", "ckpt_ingest", "ckpt_silver"):
            m[k] = os.path.join(d, k)
        if history:
            backlog = m["parts"][0]["path"]
            for f in sorted(os.listdir(backlog)):
                os.rename(os.path.join(backlog, f), os.path.join(m["raw"], f"h-{f}"))
            b.trace(last)
            b.ingest(m["raw"], m["bronze"], m["ckpt_ingest"])
            b.silver_incremental(m["bronze"], m["silver"], m["ckpt_silver"], m["catalog"])
            b.gold(m["silver"], m["gold"])
        times.append(time.perf_counter() - t0)
        if not last:
            shutil.rmtree(d)
    m["setup_s"] = _median(times)
    m["truth_db"] = Truth(m["truth"])
    return m


# --- workloads -------------------------------------------------------------


def run_backfill(b: Bench) -> dict:
    m = setup(b, "backfill", history=False)
    truth = m["truth_db"]
    events = m["parts"][0]["events"]
    raw = m["parts"][0]["path"]
    walls = []
    b.trace(True)
    t_end = time.perf_counter() + b.args.seconds
    i = 0
    while i < MIN_OPS["backfill"] or time.perf_counter() < t_end:
        d = os.path.join(WORK, f"drain{i}")
        wall, cached_mb = checked_drain(b, raw, f"drain{i}", m["catalog"], truth, heap=True)
        if wall is not None:
            walls.append(wall)
            if b.args.trace:
                bronze, silver = os.path.join(d, "bronze"), os.path.join(d, "silver")
                layer_counts(b, truth, bronze, silver, events, events, cached_mb)
        i += 1
    b.trace(False)
    if b.args.trace:
        b.layer["steps"] = silver_steps(b, os.path.join(d, "bronze"), m["catalog"])
        traced_extras(b, d, m["catalog"], truth.dashboard(0))
        overhead_and_scaling(b, m["catalog"])
    return {
        "setup_s": m["setup_s"],
        "wall_s": _median(walls),
        "events_per_s": events / _median(walls) if walls else 0.0,
        "query_ms": [],
        "op_walls": walls,
    }


def overhead_and_scaling(b: Bench, catalog: str) -> None:
    """Diagnostics of the traced backfill run, on a 1-hour backlog: the
    tracing overhead, from drains traced and untraced in ABBA order after
    an untimed first drain of that backlog, and the speed-up of
    ``local[nproc]`` over ``local[1]``. Their spans and batches are kept
    out of the layer metrics."""
    short = gen.generate(os.path.join(WORK, "short"), b.args.seed, gen.PRESETS["backfill_short"])
    truth = Truth(short["truth"])
    raw = short["parts"][0]["path"]
    layer_tracer, layer_batches = b.tracer, b.listener.batches
    b.tracer, b.listener.batches = Tracer(layer_tracer.run_id), {}
    b.tracer.attach(b.spark)
    walls: dict[bool, list[float]] = {True: [], False: []}
    for j, traced in enumerate((None, True, False, False, True)):
        b.trace(bool(traced))
        wall, _ = checked_drain(b, raw, f"short{j}", catalog, truth)
        if wall is not None and traced is not None:
            walls[traced].append(wall)
    b.trace(False)
    b.tracer, b.listener.batches = layer_tracer, layer_batches
    if walls[True] and walls[False]:
        untraced = _median(walls[False])
        b.layer["overhead_pct"] = 100.0 * (_median(walls[True]) / untraced - 1.0)
        b.layer["speedup"] = scaling(b, raw, catalog) / untraced
    truth.close()


def drain(b: Bench, raw: str, d: str, catalog: str) -> float:
    """Ingest the backlog in ``raw`` into new tables under ``d``, then
    batch silver and gold; returns the wall."""
    bronze, silver, gold_root = (os.path.join(d, x) for x in ("bronze", "silver", "gold"))
    t0 = time.perf_counter()
    b.ingest(raw, bronze, os.path.join(d, "ckpt"))
    b.silver_batch(bronze, silver, catalog)
    b.gold(silver, gold_root)
    return time.perf_counter() - t0


def checked_drain(
    b: Bench, raw: str, name: str, catalog: str, truth: Truth, heap: bool = False
) -> tuple:
    """One drain, its output check and, with ``heap``, its retained heap;
    returns (wall, or None if it failed; MB the session had cached when
    gold finished). Every drain is a catch-up of its own: the silver
    that ``build_gold`` leaves cached is counted, then dropped, so that
    the next drain does not start with the caches of all before it."""
    d = os.path.join(WORK, name)
    cached_mb = 0.0
    try:
        wall = drain(b, raw, d, catalog)
        cached_mb = _cached_mb(b.spark)
        if heap:
            b.retained_heap()
        errs = output_errors(os.path.join(d, "silver"), os.path.join(d, "gold"), truth, 0)
    except Exception:
        traceback.print_exc()
        wall, errs = None, ["exception"]
    b.spark.catalog.clearCache()
    return (wall if b.record(name, errs) else None), cached_mb


def traced_extras(b: Bench, drain: str, catalog: str, want: dict) -> None:
    """Layers that a drain does not exercise, measured once on its
    output so that the traced backfill run reports them too: the full
    dashboard query mix, and incremental silver's batch overhead."""
    from big_data_for_smart_houses_spark.plans.etl import (
        run_bronze_to_silver_incremental,
    )

    silver, gold_root = os.path.join(drain, "silver"), os.path.join(drain, "gold")
    # the dashboard is its own process: the silver that build_gold cached
    # must not answer the queries' silver scans
    b.spark.catalog.clearCache()
    b.trace(True)
    for name in QUERIES:
        got, _ms = b.query(name, silver, gold_root, want)
        b.record(f"traced query {name}", check_query(name, got, want))
    # the listener records the stream's batches; no span, so silver.*
    # stays the batch path's
    b.tracer.enabled = False
    run_bronze_to_silver_incremental(
        b.spark,
        os.path.join(drain, "bronze"),
        os.path.join(WORK, "silver_incremental"),
        os.path.join(WORK, "ckpt_silver_incremental"),
        catalog,
    )
    b.trace(False)


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1024.0 * 1024.0)


def silver_steps(b: Bench, bronze_path: str, catalog_path: str) -> dict:
    """Self time of each silver sub-step, from staged prefixes of
    ``bronze_to_silver``'s order run through the noop sink, plus the
    parquet write. A failed check, and no timings, if the full staged
    prefix does not reproduce ``bronze_to_silver``'s output."""
    from pyspark.sql import functions as F

    from big_data_for_smart_houses_spark.functions.timeutil import parse_iso_ts
    from big_data_for_smart_houses_spark.operators import (
        cleaning,
        enrichment,
        quality,
        windows,
    )
    from big_data_for_smart_houses_spark.operators.silver import bronze_to_silver
    from big_data_for_smart_houses_spark.sources.csv import read_device_catalog
    from big_data_for_smart_houses_spark.sources.parquet import (
        read_bronze,
        write_partitioned,
    )

    spark = b.spark
    bronze = read_bronze(spark, bronze_path).drop("event_date")
    catalog = read_device_catalog(spark, catalog_path)

    def parse(df):
        for c in ("timestamp", "ingestion_time"):
            df = df.withColumn(c, parse_iso_ts(F.col(c)))
        return df

    def clean(df):
        df = cleaning.coerce_numerics(cleaning.drop_null_critical(df))
        return cleaning.drop_all_null_numeric(cleaning.apply_range_filters(df))

    def dedup(df):
        return cleaning.dedup_keep_first(df.repartition("device_id"), keys=["device_id", "timestamp"])

    def win(df):
        df = windows.add_rolling_metrics(quality.add_late_event_flag(df))
        return df.withColumn("date", F.to_date("timestamp"))

    fns = {
        "parse": parse,
        "clean": clean,
        "dedup": dedup,
        "quality": quality.add_quality_score,
        "enrich": lambda df: enrichment.enrich_with_catalog(df, catalog),
        "windows": win,
    }
    prefixes, df = [], bronze
    for name in SILVER_STEPS:
        df = fns[name](df)
        prefixes.append(df)

    def digest(frame):
        cols = sorted(frame.columns)
        h = F.xxhash64(*cols).cast("decimal(38,0)")
        return (cols, frame.select(F.count(F.lit(1)), F.sum(h)).first()[:])

    want, got = digest(bronze_to_silver(bronze, catalog)), digest(prefixes[-1])
    if not b.record(
        "silver step parity",
        [] if want == got else [
            f"staged prefix no longer reproduces bronze_to_silver: {got} != {want}"
        ],
    ):
        return {}
    walls = []
    for p in prefixes:
        t0 = time.perf_counter()
        p.write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    write_partitioned(prefixes[-1], os.path.join(WORK, "steps"), mode="overwrite")
    walls.append(time.perf_counter() - t0)
    # self time: each prefix minus the one before; the parquet write
    # minus the full prefix through the noop sink. A step cheaper than
    # the noise between two runs can read slightly negative.
    out, prev = {}, 0.0
    for name, t in zip(SILVER_STEPS + ("write",), walls):
        out[name] = t - prev
        prev = t
    return out


def scaling(b: Bench, raw: str, catalog: str) -> float:
    """Wall of one untraced drain on ``local[1]``."""
    b.boot(cpus=1)
    return drain(b, raw, os.path.join(WORK, "local1"), catalog)


def run_dashboard(b: Bench) -> dict:
    m = setup(b, "dashboard", history=True)
    want = m["truth_db"].dashboard(0)
    if b.args.trace:
        n = m["parts"][0]["events"]
        layer_counts(b, m["truth_db"], m["bronze"], m["silver"], n, n, _cached_mb(b.spark))
        b.layer["steps"] = silver_steps(b, m["bronze"], m["catalog"])
    # the reference's dashboard is its own process: start with no cache
    b.boot()
    events = m["parts"][0]["events"]
    per_query: dict[str, list[float]] = {q: [] for q in QUERIES}
    rounds, untraced_rounds = [], []
    t_end = time.perf_counter() + b.args.seconds
    rnd = 0
    while rnd < MIN_OPS["dashboard"] or time.perf_counter() < t_end:
        # in the traced run, rounds after the cold first one are traced
        # and untraced in ABBA order, so that the warm-up over the run
        # does not bias the difference, the tracing overhead
        traced = bool(b.args.trace) and rnd > 0 and (rnd - 1) % 4 in (0, 3)
        b.trace(traced)
        cur, ok = 0.0, True
        for name in QUERIES:
            try:
                got, ms = b.query(name, m["silver"], m["gold"], want)
                errs = check_query(name, got, want)
            except Exception:
                traceback.print_exc()
                ms, errs = None, ["exception"]
            if b.record(f"round {rnd} {name}", errs):
                cur += ms
                per_query[name].append(ms)
            ok = ok and not errs
        b.retained_heap()
        if ok and not (b.args.trace and rnd == 0):
            (rounds if traced or not b.args.trace else untraced_rounds).append(cur / 1000.0)
        rnd += 1
    b.trace(False)
    if b.args.trace:
        b.layer["overhead_pct"] = 100.0 * (_median(rounds) / _median(untraced_rounds) - 1.0)
    all_ms = [x for q in QUERIES for x in per_query[q]]
    return {
        "setup_s": m["setup_s"],
        "wall_s": _median(rounds),
        "events_per_s": events / _median(rounds) if rounds else 0.0,
        "query_ms": all_ms,
        "op_walls": rounds,
    }


def layer_counts(
    b: Bench,
    truth: Truth,
    bronze: str,
    silver: str,
    events: int,
    delivered: int,
    cached_mb: float,
) -> None:
    """Row and file counts for the per-layer metrics, read from disk after
    an operation, outside its timed span. ``events``: new events of one
    operation; ``delivered``: all events ``bronze`` was built from;
    ``cached_mb``: what the session had cached when gold finished."""
    L = b.layer
    L["events"] = events
    L["rows_rejected"] = delivered - truth.written_rows(bronze)
    L["silver_rows"] = truth.written_rows(silver)
    L["bronze_files"] = _count_files(bronze)
    L["silver_files"] = _count_files(silver)
    L["cached_mb"] = cached_mb


def run_fleet_ticks(b: Bench) -> dict:
    m = setup(b, "fleet", history=True)
    truth = m["truth_db"]
    fresh, walls, qms, tick_events = [], [], [], []
    t_end = time.perf_counter() + b.args.seconds
    k = 1
    while k < len(m["parts"]) and (k <= MIN_OPS["fleet_ticks"] or time.perf_counter() < t_end):
        part = m["parts"][k]
        now = dt.datetime.fromisoformat(part["end"].rstrip("Z")).replace(microsecond=0)
        want = {"today": now.date(), "now": now, "kpi": truth.kpi(k, now.date())}
        try:
            t0 = time.perf_counter()
            for f in sorted(os.listdir(part["path"])):
                os.rename(os.path.join(part["path"], f), os.path.join(m["raw"], f"t{k:03d}-{f}"))
            b.ingest(m["raw"], m["bronze"], m["ckpt_ingest"])
            b.silver_incremental(m["bronze"], m["silver"], m["ckpt_silver"], m["catalog"])
            b.gold(m["silver"], m["gold"])
            wall = time.perf_counter() - t0
            kpi, ms = b.query("kpi", m["silver"], m["gold"], want)
            errs = check_query("kpi", kpi, want)
            f_s = time.perf_counter() - t0
            b.retained_heap()
            errs += output_errors(m["silver"], m["gold"], truth, k)
        except Exception:
            traceback.print_exc()
            errs, wall, ms = ["exception"], None, None
        ok = b.record(f"tick {k}", errs)
        fresh.append(f_s if ok else TICK_TIMEOUT_S)
        if ok:
            walls.append(wall)
            qms.append(ms)
        tick_events.append(part["events"])
        k += 1
    if b.args.trace:
        delivered = m["parts"][0]["events"] + sum(tick_events)
        layer_counts(
            b, truth, m["bronze"], m["silver"], _median(tick_events), delivered, _cached_mb(b.spark)
        )
    return {
        "setup_s": m["setup_s"],
        "wall_s": _median(walls),
        "events_per_s": _median(tick_events) / _median(walls) if walls else 0.0,
        "query_ms": qms,
        "op_walls": walls,
        "freshness_s": fresh,
    }


WORKLOADS = {
    "backfill": run_backfill,
    "fleet_ticks": run_fleet_ticks,
    "dashboard": run_dashboard,
}


# --- reporting -------------------------------------------------------------


def per_layer(b: Bench) -> dict:
    """Per-layer metrics from the traced spans (0 where a layer did not
    run in this workload)."""
    tr = b.tracer
    L = b.layer

    def med(name, key=None):
        spans = tr.named(name)
        return _median([s.stages[key] if key else s.wall_s for s in spans])

    ingest_batches = b.listener.batches.get("ingest", [])
    silver_batches = b.listener.batches.get("silver", [])
    events = L.get("events", 0)
    out = {
        "session.boot_s": _median(b.boot_s),
        "ingest.wall_s": med("ingest"),
        "ingest.events_per_s": events / med("ingest") if med("ingest") else 0.0,
        "ingest.task_cpu_s": med("ingest", "task_cpu_s"),
        "ingest.input_mb": med("ingest", "input_mb"),
        "ingest.rows_rejected": L.get("rows_rejected", 0),
        "ingest.files_out": L.get("bronze_files", 0),
        "ingest.batches": sum(x["rows"] > 0 for x in ingest_batches)
        / max(1, len(tr.named("ingest"))),
        "ingest.batch_overhead_ms": overhead_ms(ingest_batches),
        "silver.batch_overhead_ms": overhead_ms(silver_batches),
        "silver.wall_s": med("silver"),
        "silver.rows_in": med("silver", "input_rows"),
        "silver.rows_out": L.get("silver_rows", 0),
        "silver.shuffle_write_mb": med("silver", "shuffle_write_mb"),
        "silver.spill_mb": med("silver", "spill_mb"),
        "silver.task_cpu_s": med("silver", "task_cpu_s"),
        "silver.files_out": L.get("silver_files", 0),
    }
    steps = L.get("steps", {})
    for s in SILVER_STEPS + ("write",):
        out[f"silver.step.{s}_s"] = steps.get(s, 0.0)
    out.update(
        {
            "gold.wall_s": med("gold"),
            "gold.rows_scanned": med("gold", "input_rows"),
            "gold.input_mb": med("gold", "input_mb"),
            "gold.shuffle_write_mb": med("gold", "shuffle_write_mb"),
            "gold.task_cpu_s": med("gold", "task_cpu_s"),
            "gold.scan_amplification": med("gold", "input_rows") / events if events else 0.0,
            "gold.cached_mb": L.get("cached_mb", 0.0),
        }
    )
    for q in QUERIES:
        out[f"analytics.{q}.build_ms"] = 1000.0 * med(f"analytics.{q}.build")
        out[f"analytics.{q}.run_ms"] = 1000.0 * med(f"analytics.{q}.run")
    out["analytics.jobs_per_query"] = _median(L.get("jobs", []))
    out["layout.bronze_files"] = L.get("bronze_files", 0)
    out["layout.silver_files"] = L.get("silver_files", 0)
    out["scaling.backfill_speedup"] = L.get("speedup", 0.0)
    out["trace.overhead_pct"] = L.get("overhead_pct", 0.0)
    return out


def listed_units(trace: int) -> dict:
    """Name -> unit of the metrics that ``BENCHMARK.json`` lists for this
    mode: the end-to-end metrics untraced, the per-layer ones traced."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    units = listed_units(args.trace)
    import big_data_for_smart_houses_spark  # noqa: F401  (fail fast without the program)

    # everything the run writes, the JVM's and PySpark's temp files
    # included, stays inside the checkout
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = TMP
    tempfile.tempdir = TMP
    b = Bench(args)
    try:
        with RssSampler() as rss:
            r = WORKLOADS[args.workload](b)
    finally:
        b.shutdown()
        shutil.rmtree(WORK, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(WORK))

    qms = r["query_ms"]
    print("layout " + json.dumps(b.layout, sort_keys=True))
    print(
        f"operations attempted={b.attempted} failed={b.failed} "
        f"failed_ops_ratio={b.failed / max(1, b.attempted):.4f}"
    )
    print("operation walls (s): " + " ".join(f"{w:.3f}" for w in r["op_walls"]))
    if qms:
        print(
            f"query_p50_ms {_median(qms):.3f} ms, query_p90_ms {_p90(qms):.3f} ms "
            f"over {len(qms)} queries"
        )
        print("query latencies (ms): " + " ".join(f"{q:.1f}" for q in qms))
    print("retained heap (MB): " + " ".join(f"{h:.1f}" for h in b.heap_mb))
    print(f"peak_rss_mb {rss.peak_mb:.1f} MB, by process: {rss.peak_by_process}")
    if "freshness_s" in r:
        f = r["freshness_s"]
        print(f"freshness_p50_s {_median(f):.4f} s over {len(f)} ticks")
    if args.trace:
        metrics = per_layer(b)
        with open(os.path.join(ROOT, f".perfbench_spans-{args.workload}.json"), "w") as f:
            json.dump(b.tracer.records(), f)
    else:
        metrics = {
            "setup_s": r["setup_s"],
            "wall_s": r["wall_s"],
            "events_per_s": r["events_per_s"],
            "retained_heap_mb": _median(b.heap_mb),
        }
    if set(metrics) != set(units):
        raise SystemExit(f"metrics {sorted(set(metrics) ^ set(units))} differ from BENCHMARK.json")
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(
        json.dumps(
            {
                "correct": b.failed == 0,
                "attempted": b.attempted,
                "failed": b.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
