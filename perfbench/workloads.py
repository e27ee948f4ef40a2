"""The benchmark's workloads and the loop that runs them.

One Python process, one SparkSession on ``local[cores]``, one
closed-loop client: each operation is a registry call followed by a
``noop`` write that forces every column, and the next operation starts
only when the write returns. The seed drives the dashboard tile draw
and the order of the ingest operations; the package only ever receives
``(spark, sf_dir)``.
"""

from __future__ import annotations

import hashlib
import random
import resource
import statistics
import time
from dataclasses import dataclass, field

# Nightly ETL of etl_dashboard: the star's memoized dims and fact, which
# the dashboard tiles read.
ETL = ("fact_orders",)

# Superset-style tiles over the built star, hottest first. A cycle's
# stream holds each tile in proportion to 1 / rank (Zipf, exponent 1);
# the seed shuffles the stream, so every seed sees the same mix. The
# rank order follows the reference warehouse's BI metadata (superset.db,
# mapped to tiles in plans/bi.py and plans/sqlviews.py): the dashboard
# charts first (slices C1-C3), then the two saved queries (V1, V2), the
# star datasets behind them, the SQL-Lab history in row order, and the
# engine's own extras last.
TILES = (
    "bi_total_postings",  # slice 1, big-number total
    "bi_count_by_region",  # slice 2, world map
    "bi_temporal_window",  # slice 3, temporal-range table
    "sql_v1_star",  # saved query "Main Job Postings Analytics"
    "sql_v2_star_dates",  # saved query "... with datetime"
    "star_wide",  # datasets 2 and 5, the star view
    "sql_v3_bridge_flat",  # dataset 3, "Skill-Specific Analytics"
    "bi_keyword_flatten",  # SQL-Lab row 7
    "sql_q8_monthly",  # SQL-Lab row 8
    "bi_top15_employers",  # SQL-Lab row 11
    "bi_daily_counts",  # SQL-Lab row 12
    "bi_monthly_trend",  # SQL-Lab row 13
    "bi_year_month",  # SQL-Lab row 14
    "bi_top_keywords",  # engine extra
    "bi_revenue_by_segment",  # engine extra
    "bi_daily_spine",  # engine extra
)
# 100 tiles put 10 samples above query_p90_s.
TILES_PER_CYCLE = 100

# Writes beside reads: stream micro-batch drains, incremental/CDC/SCD
# merges, sink round-trips and source landings.
INGEST = (
    "stream_window_counts",
    "stream_cdc_apply",
    "stream_dedup",
    "inc_cdc_apply",
    "inc_scd2_status",
    "inc_snapshot_diff",
    "sink_partitioned_roundtrip",
    "sink_csv_roundtrip",
    "src_jdbc_landing",
    "src_json_records",
)
# The merge operations of ingest_write: its etl_s is their summed latency.
INGEST_MERGES = frozenset({"stream_cdc_apply", "inc_cdc_apply", "inc_scd2_status", "inc_snapshot_diff"})

# A warm ingest cycle is ten samples, so query_p90_s of one cycle rests
# on the single slowest pair of operations. Three cycles put several
# samples of the slowest operations above the 90th percentile.
INGEST_MIN_CYCLES = 3

WORKLOADS = ("etl_dashboard", "ingest_write")


@dataclass
class Op:
    tag: str  # job group, unique per operation
    name: str
    phase: str  # "check", "etl", "tile" or "ingest"
    start: float = 0.0  # wall clock s
    build_end: float = 0.0
    end: float = 0.0
    build_s: float = 0.0
    action_s: float = 0.0  # the noop write
    outer_s: float = 0.0  # the whole step, tagging and tracing included
    error: str | None = None  # an exception of the build or action step
    failed_step: str | None = None  # "build" or "action"
    mismatch: str | None = None  # the output check failed

    @property
    def wall_s(self) -> float:
        return self.build_s + self.action_s

    @property
    def failed(self) -> bool:
        return self.error is not None or self.mismatch is not None


@dataclass
class Result:
    ops: list[Op] = field(default_factory=list)
    cycles: list[float] = field(default_factory=list)  # operation seconds per timed cycle
    etl: list[float] = field(default_factory=list)  # etl_s per timed cycle
    timed_start: float = 0.0
    timed_end: float = 0.0
    start_s: float = 0.0  # get_spark in a fresh JVM
    warm_s: float = 0.0  # the probe write plus every check-phase operation
    jvm_peak_mb: float = 0.0  # live heap after forced full GCs + non-heap, peak over samples
    jvm_split_mb: tuple = ()  # (heap, non-heap) of the peak sample
    py_rss_mb: float = 0.0  # the Python driver's peak RSS before any output check
    gc_probe_s: float = 0.0
    verify_s: float = 0.0
    pinned_mb_peak: float = 0.0
    pinned_probe_s: float = 0.0
    boundary0: dict = field(default_factory=dict)
    boundary1: dict = field(default_factory=dict)
    app_id: str = ""

    @property
    def timed(self) -> list[Op]:
        return [op for op in self.ops if op.phase != "check"]


def tile_stream(seed: int) -> list[str]:
    """TILES_PER_CYCLE tiles, apportioned to the Zipf weights by largest
    remainder, in a seeded order."""
    weights = [1.0 / (rank + 1) for rank in range(len(TILES))]
    quotas = [TILES_PER_CYCLE * w / sum(weights) for w in weights]
    counts = [int(q) for q in quotas]
    by_remainder = sorted(range(len(TILES)), key=lambda i: counts[i] - quotas[i])
    for i in by_remainder[: TILES_PER_CYCLE - sum(counts)]:
        counts[i] += 1
    stream = [t for t, n in zip(TILES, counts) for _ in range(n)]
    random.Random(seed).shuffle(stream)
    return stream


def ingest_order(seed: int) -> list[str]:
    order = list(INGEST)
    random.Random(seed).shuffle(order)
    return order


def digest(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a canonicalized result."""
    h = hashlib.sha256(repr(cols).encode())
    for row in sorted(rows):
        h.update(repr(row).encode())
    return h.hexdigest()


class Runner:
    """Runs one workload in this process. ``tracer`` is None in the
    untraced run; in the traced run it is told which operation is in
    flight and the pinned-state peak is sampled after each operation.
    ``duck`` opens the DuckDB oracle connection; it is called at the
    first output check, after the Python driver's RSS has been read."""

    def __init__(self, sf_dir: str, cores: int, duck, tracer=None) -> None:
        from end_to_end_data_engineering_job_listings_etl_spark import cachereg, registry
        from end_to_end_data_engineering_job_listings_etl_spark.session import get_spark

        self.cachereg, self.get_spark = cachereg, get_spark
        self.queries = registry.all_queries()
        self.oracles = registry.all_oracles()
        self.sf_dir, self.cores, self.open_duck, self.tracer = sf_dir, cores, duck, tracer
        self.duck = None
        self.spark_strict = None
        self.res = Result()
        self.spark = None
        self.checked: set[str] = set()
        self.t_timed = 0.0  # perf_counter at the start of the timed phase

    # -- session ---------------------------------------------------------
    def start(self) -> None:
        """The session in a fresh JVM, then one probe write. Their times
        open ``setup_s``; the check-phase operations add to it."""
        t0 = time.perf_counter()
        self.spark = self.get_spark(cpus=self.cores)
        self.res.start_s = time.perf_counter() - t0
        self.res.app_id = self.spark.sparkContext.applicationId
        t0 = time.perf_counter()
        self.spark.range(1).selectExpr("id", "id * 2 AS x").write.format("noop").mode("overwrite").save()
        self.res.warm_s = time.perf_counter() - t0
        self.res.py_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        from tests.oracle_check import spark_strict  # pandas and DuckDB load here

        self.spark_strict = spark_strict

    def sample_memory(self) -> None:
        """Live JVM heap right after forced full GCs, plus JVM non-heap memory
        (metaspace, generated classes, JIT code), in MB. Taken between
        operations, outside every timed span."""
        t0 = time.perf_counter()
        jvm = self.spark._jvm
        # The first GC queues the broadcasts and shuffles of finished
        # queries for Spark's context cleaner; the second, once the cleaner
        # has run, frees what it released.
        jvm.java.lang.System.gc()
        time.sleep(0.3)
        jvm.java.lang.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        heap, non_heap = mx.getHeapMemoryUsage().getUsed() / 2**20, mx.getNonHeapMemoryUsage().getUsed() / 2**20
        if heap + non_heap > self.res.jvm_peak_mb:
            self.res.jvm_peak_mb, self.res.jvm_split_mb = heap + non_heap, (heap, non_heap)
        self.res.gc_probe_s += time.perf_counter() - t0

    # -- operations ------------------------------------------------------
    def run_op(self, name: str, phase: str) -> Op:
        """One closed-loop operation: the registry call, then a ``noop``
        write that forces every column. The first time a name runs, its
        result is collected and compared against the DuckDB oracle,
        untimed."""
        t_outer = time.perf_counter()
        op = Op(f"{phase}-{len(self.res.ops)}-{name}", name, phase)
        self.res.ops.append(op)
        self.spark.sparkContext.setJobGroup(op.tag, name)
        if self.tracer is not None:
            self.tracer.op = op.tag
        df = None
        built = False
        op.start = time.time()
        t0 = time.perf_counter()
        t1 = t0
        try:
            df = self.queries[name](self.spark, self.sf_dir)
            built = True
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, the run goes on
            op.error = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
            op.failed_step = "action" if built else "build"
        t2 = time.perf_counter()
        if not built:
            t1 = t2
        op.build_s, op.action_s = t1 - t0, t2 - t1
        op.build_end, op.end = op.start + op.build_s, op.start + op.build_s + op.action_s
        if self.tracer is not None:
            self.tracer.op = None
            t3 = time.perf_counter()
            pinned = self.cachereg.pinned_bytes(self.spark) / 2**20
            self.res.pinned_mb_peak = max(self.res.pinned_mb_peak, pinned)
            self.res.pinned_probe_s += time.perf_counter() - t3
        op.outer_s = time.perf_counter() - t_outer
        if phase == "check":
            self.res.warm_s += op.wall_s
        if name not in self.checked:
            self.checked.add(name)
            if op.error is None:
                op.mismatch = self.verify(name, df)
        return op

    def verify(self, name: str, df) -> str | None:
        """Compare a result's order-insensitive digest with its oracle's."""
        from tests.oracle_check import duck_strict

        self.spark.sparkContext.setJobGroup(f"verify-{name}", name)
        t0 = time.perf_counter()
        try:
            got = self.spark_strict(df)
            if self.duck is None:
                self.duck = self.open_duck()
            want = duck_strict(self.duck, self.oracles[name])
        except Exception as e:  # noqa: BLE001 - a check that cannot run fails the operation
            return f"check {type(e).__name__}: {str(e)[:300]}"
        finally:
            self.res.verify_s += time.perf_counter() - t0
        if digest(*got) != digest(*want):
            return f"output digest differs from the DuckDB oracle ({len(got[1])} vs {len(want[1])} rows)"
        return None

    # -- workloads -------------------------------------------------------
    def etl_dashboard(self, seed: int, seconds: float) -> None:
        """Phase 1, the nightly ETL from a cold memo; phase 2, a Zipf
        stream of dashboard tiles against the star it built. The first
        cycle runs in a fresh JVM, as a nightly batch job does. Before
        the stream, every tile runs once untimed, so the stream's
        latencies do not depend on which tiles the draw picks first.
        Memory is sampled after the ETL, after the check pass and at the
        end of every cycle."""
        cycle = 0
        while not self.res.cycles or time.perf_counter() - self.t_timed < seconds:
            self.cachereg.evict(self.spark)
            etl = sum(self.run_op(name, "etl").wall_s for name in ETL)
            self.sample_memory()
            if any(name not in self.checked for name in TILES):
                for name in TILES:  # untimed: check and warm every tile once
                    self.run_op(name, "check")
                self.sample_memory()
            tiles = sum(self.run_op(name, "tile").wall_s for name in tile_stream(seed * 1000 + cycle))
            self.sample_memory()
            self.res.etl.append(etl)
            self.res.cycles.append(etl + tiles)
            cycle += 1

    def ingest_write(self, seed: int, seconds: float) -> None:
        """Every ingest operation once per cycle, in a seeded order.
        Memory is sampled at the end of every cycle."""
        cycle = 0
        while len(self.res.cycles) < INGEST_MIN_CYCLES or time.perf_counter() - self.t_timed < seconds:
            ops = [self.run_op(name, "ingest") for name in ingest_order(seed * 1000 + cycle)]
            self.sample_memory()
            self.res.etl.append(sum(op.wall_s for op in ops if op.name in INGEST_MERGES))
            self.res.cycles.append(sum(op.wall_s for op in ops))
            cycle += 1

    def run(self, workload: str, seed: int, seconds: float) -> Result:
        self.start()
        if workload == "ingest_write":
            # A fresh JVM compiles as it goes, and cold ingest timings swing
            # with the order that compilation lands in. One untimed pass in
            # a fixed order checks every output and warms every operation.
            for name in INGEST:
                self.run_op(name, "check")
            self.sample_memory()
        self.res.boundary0 = self.cachereg.boundary_stats()["counts"]
        self.res.timed_start = time.time()
        self.t_timed = time.perf_counter()
        getattr(self, workload)(seed, seconds)
        self.res.timed_end = time.time()
        self.res.boundary1 = self.cachereg.boundary_stats()["counts"]
        return self.res


def end_to_end(res: Result) -> dict[str, tuple[float, str]]:
    lat = sorted(op.wall_s for op in res.timed if op.phase != "etl")
    return {
        "setup_s": (res.start_s + res.warm_s, "s"),
        "wall_s": (statistics.median(res.cycles), "s"),
        "etl_s": (statistics.median(res.etl), "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "query_p90_s": (statistics.quantiles(lat, n=10, method="inclusive")[-1] if len(lat) > 1 else lat[0], "s"),
        "peak_rss_mb": (res.jvm_peak_mb + res.py_rss_mb, "MB"),
    }
