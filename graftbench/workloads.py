"""The benchmark's workloads.

Each workload receives a started session and a ``Ctx``; it runs its
untimed warm-up, then timed units (a headline pass, or one checkpoint
period of micro-batch cycles) until ``--seconds`` have passed and the
minimum unit count is met, then checks its outputs outside the timed
region. A timed statement is one registry query call (or reader/update call)
plus its action; its wall time is one latency sample.

In a traced run even units are traced and odd units are not, so the
tracing overhead is the traced unit wall minus the untraced unit wall of
the same process.
"""

from __future__ import annotations

import gc
import os
import random
import time
from dataclasses import dataclass, field

import checks
from spans import Tracer

#: The frozen 25-query headline, one query per operator family. The
#: benchmark keeps its own copy so the workload cannot drift with the
#: repository's bench lists.
HEADLINE = (
    "q_scan_project",
    "q_filter_basic",
    "q_json_funcs",
    "q_math_funcs",
    "q_join_inner",
    "q_join_broadcast",
    "q_join_multiway",
    "q_join_asof",
    "q_agg_pricing",
    "q_agg_distinct",
    "q_agg_rollup",
    "q_agg_percentiles",
    "q_pivot",
    "q_sessionize",
    "q_window_lag",
    "q_topk_group",
    "q_sort_limit",
    "q_union_distinct",
    "q_subquery_scalar",
    "q_dedup_exact",
    "q_dedup_near",
    "q_sim_topk",
    "q_text_tokens",
    "q_text_quality",
    "q_stream_tumbling",
)

#: Timed headline passes per run: 3 x 25 = 75 queries. Fewer passes
#: would do for the p80 tail, but the passes after the warm-up still
#: speed up as the JIT converges, and one pass would then decide the
#: median over units.
MIN_PASSES = 3

#: refresh_mixed: the events table is split into this many micro-batches.
BATCHES = 32
#: Cycles per unit, and the aggregator's ``checkpoint_every``: every unit
#: holds exactly one checkpointing update, so the update-latency sawtooth
#: is sampled whole.
PERIOD = 8
#: Timed units per run: 2 x 8 cycles x (1 update + 3 reads) = 64 statements.
MIN_PERIODS = 2
#: Untimed warm-up cycles: one period, so that every timed period ends
#: with its checkpointing update.
WARMUP_CYCLES = 8
#: Snapshot reads per update. The repository's always-on pipeline
#: (``streaming.pipeline.run_continuous_pipeline`` at its default 1 s
#: trigger, with its concurrent reader hook polling every 0.2 s) read
#: 3.0 and 3.3 snapshots per publish in two runs of 15 publishes.
READS_PER_CYCLE = 3


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    data_dir: str
    run_dir: str
    log: object
    cores: int
    latencies: list[float] = field(default_factory=list)
    units: list[dict] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    storage_mb: float = 0.0
    heap_mb: float = 0.0
    gc_ms: int = 0


def statement(ctx: Ctx, kind: str, run, timed: bool = True, **attrs):
    """Run one statement under a span named ``kind`` and, when timed,
    count it and keep its latency. Returns what ``run`` returned, or None
    when it raised; a failed statement is counted and the run goes on."""
    t = time.perf_counter()
    try:
        with ctx.tracer.span(kind, **attrs):
            out = run()
    except Exception as e:
        ctx.log(f"{kind} {attrs}: {type(e).__name__}: {e}")
        out = None
    if timed:
        ctx.attempted += 1
        if out is None:
            ctx.failed += 1
        else:
            ctx.latencies.append(time.perf_counter() - t)
    return out


def collect(ctx: Ctx, build) -> int:
    """Build a DataFrame, force its plan when traced, and collect its
    result into the session's JVM (serving cost, not Python row
    conversion). Returns the row count."""
    tr = ctx.tracer
    with tr.span("build"):
        df = build()
    if tr.enabled:
        with tr.span("plan") as plan_span:
            plan = df._jdf.queryExecution().executedPlan()
    with tr.span("exec"):
        rows = df._jdf.collectAsList().size()
    if tr.enabled:
        plan_span.attrs["exchanges"] = exchanges(plan)
    return rows


def mismatch(ctx: Ctx, what: str, rows: int, expected) -> None:
    """Count a statement whose row count differs from the checked one as
    failed."""
    if rows != expected:
        ctx.log(f"{what}: {rows} rows, the checked result has {expected}")
        ctx.failed += 1


def exchanges(node) -> int:
    """Shuffle and broadcast exchanges in a physical plan; for an adaptive
    plan, in its final form. Cached relations count as leaves."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return exchanges(node.executedPlan())
    if name.endswith("QueryStageExec"):  # shuffle, broadcast and result stages
        return exchanges(node.plan())
    kids = node.children()
    own = name in ("ShuffleExchangeExec", "BroadcastExchangeExec")
    return own + sum(exchanges(kids.apply(i)) for i in range(kids.size()))


def timed_units(ctx: Ctx, run_unit, min_units: int, trace: bool) -> None:
    """Run whole units until ``ctx.seconds`` have passed and at least
    ``min_units`` ran; in a traced run, trace every other unit."""
    gc_start = gc0 = jvm_gc_ms(ctx.spark)
    start = time.perf_counter()
    i = 0
    while i < min_units or time.perf_counter() - start < ctx.seconds:
        ctx.tracer.enabled = trace and i % 2 == 0
        ctx.tracer.unit = i
        n0, t = len(ctx.latencies), time.perf_counter()
        run_unit(i)
        wall, gc1 = time.perf_counter() - t, jvm_gc_ms(ctx.spark)
        ctx.units.append(
            {"unit": i, "traced": ctx.tracer.enabled, "wall_s": wall, "gc_ms": gc1 - gc0,
             "statements": len(ctx.latencies) - n0, "load_1m": os.getloadavg()[0]}
        )
        gc0 = gc1
        i += 1
    ctx.tracer.enabled = False
    ctx.gc_ms = gc0 - gc_start
    ctx.storage_mb, ctx.heap_mb = settled_memory_mb(ctx.spark)


# -- serve_headline ---------------------------------------------------------


def serve_headline(ctx: Ctx, trace: bool, mark_timed_start) -> None:
    from presto_cached_examples_spark import registry

    specs = registry.all_specs()
    missing = [n for n in HEADLINE if n not in specs]
    if missing:
        raise KeyError(f"headline queries not registered: {missing}")

    def run_pass(order):
        for name in order:
            rows = statement(
                ctx, "query", lambda: collect(ctx, lambda: specs[name].fn(ctx.spark, ctx.data_dir)), query=name
            )
            if rows is not None:
                mismatch(ctx, f"query {name}", rows, checked.get(name))

    # The warm-up pass (first builds, codegen, the Python worker pool) is
    # also the output check: each query's rows against its oracle. Every
    # timed statement must return as many rows as its checked result.
    # The check's own time (DuckDB, hashing) is left out of ``setup_s``.
    checked, failed, check_s = checks.check_registry(ctx.spark, ctx.data_dir, HEADLINE, ctx.log)
    ctx.attempted += len(HEADLINE)
    ctx.failed += failed
    mark_timed_start(check_s)
    timed_units(
        ctx,
        lambda p: run_pass(random.Random(f"{ctx.seed}/{p}").sample(HEADLINE, len(HEADLINE))),
        MIN_PASSES,
        trace,
    )


# -- refresh_mixed ----------------------------------------------------------


def batch_column(seed: int, batches: int):
    """Micro-batch id of an event: xxhash64(event_id, seed) mod batches."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64("event_id", F.lit(seed)), F.lit(batches))


def snapshot_reader(cur, dim):
    """The reader: the whole published snapshot, as the repository's
    snapshot readers take it, joined to the pinned customer dimension."""
    return cur.join(dim, cur.user_id == dim.c_custkey).select(
        "user_id", "event_type", "c_mktsegment", "n_name", "n", "sum_v", "avg_v"
    )


def refresh_mixed(ctx: Ctx, trace: bool, mark_timed_start) -> None:
    from pyspark.sql import functions as F

    from presto_cached_examples_spark import load_table
    from presto_cached_examples_spark.plans.cache import CacheTiers
    from presto_cached_examples_spark.streaming.incremental import IncrementalAggregator

    spark = ctx.spark
    landed = f"{ctx.run_dir}/batches"
    events = load_table(spark, ctx.data_dir, "events")
    events.withColumn("batch", batch_column(ctx.seed, BATCHES)).write.partitionBy("batch").parquet(landed)

    cust = load_table(spark, ctx.data_dir, "customer")
    nation = load_table(spark, ctx.data_dir, "nation")
    tiers = CacheTiers(spark)
    ctx.tracer.enabled = trace
    with ctx.tracer.span("pin"):
        dim = tiers.pin(
            "dim_customer",
            cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).select(
                "c_custkey", "c_mktsegment", "n_name"
            ),
            tier="hot",
        )
    ctx.tracer.enabled = False

    agg = IncrementalAggregator(
        spark, ["user_id", "event_type"], "value", f"graftbench_{ctx.seed}", checkpoint_every=PERIOD
    )
    folds: list[int] = []
    reads: list[tuple[int, int]] = []  # (batches folded, rows) per timed read

    def fold(b: int) -> int:
        version = agg.update(spark.read.parquet(f"{landed}/batch={b}"))
        folds.append(b)
        return version

    def run_cycles(n: int, timed: bool = True) -> None:
        for _ in range(n):
            b = len(folds) % BATCHES
            statement(ctx, "update", lambda: fold(b), timed, batch=b, checkpoint=(len(folds) + 1) % PERIOD == 0)
            for _ in range(READS_PER_CYCLE):
                rows = statement(ctx, "read", lambda: collect(ctx, lambda: snapshot_reader(agg.current(), dim)), timed)
                if timed and rows is not None:
                    reads.append((len(folds), rows))

    run_cycles(WARMUP_CYCLES, timed=False)
    mark_timed_start()
    timed_units(ctx, lambda _: run_cycles(PERIOD), MIN_PERIODS, trace)

    # The final snapshot against a full GROUP BY over the folded batches,
    # and every timed read's row count against the groups it could see.
    ctx.attempted += 1
    try:
        snapshot = agg.current().toPandas()
        landed_events = spark.read.parquet(landed).select("user_id", "event_type", "value", "batch").toPandas()
        ok = checks.snapshot_matches(snapshot, checks.expected_aggregate(landed_events, folds), ctx.log)
        keys = set(dim.select("c_custkey").toPandas()["c_custkey"])
        for k, rows in reads:
            mismatch(ctx, f"read after {k} folds", rows, checks.joined_groups(landed_events, folds[:k], keys))
    except Exception as e:
        ctx.log(f"snapshot check: {type(e).__name__}: {e}")
        ok = False
    ctx.failed += not ok


WORKLOADS = {"serve_headline": serve_headline, "refresh_mixed": refresh_mixed}


# -- JVM and block-manager readings -------------------------------------------


def jvm_gc_ms(spark) -> int:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans)


def settled_memory_mb(spark) -> tuple[float, float]:
    """What the session retains: its cached and checkpointed RDD blocks,
    and the JVM heap in use right after a full collection.

    Unreferenced blocks are dropped first (a Python GC that releases the
    JVM handles, a JVM GC, then Spark's ContextCleaner), so the figures
    are what the session holds, not what the collectors have not reached
    yet."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc.sc()
    readings = []
    for _ in range(8):
        gc.collect()
        jvm.System.gc()
        time.sleep(0.25)
        readings.append(sum(r.memSize() + r.diskSize() for r in jsc.getRDDStorageInfo()))
        if readings[-3:] == [readings[-1]] * 3:
            break
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return readings[-1] / 2**20, heap / 2**20
