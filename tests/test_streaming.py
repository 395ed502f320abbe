"""Streaming pillar tests (SURVEY.md §7 M3):

1. Real streaming runs (readStream → watermark → memory sink) equal
   their batch twins.
2. Watermarked dedup drops late rows.
3. The stateful delta operator equals the window-lag form, and its
   cross-batch state carries deltas across micro-batch boundaries.
4. SnapshotPublisher gives snapshot isolation (C3).
5. IncrementalAggregator: incremental == full recompute (C4).
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from presto_cached_examples_spark.plans.snapshot import SnapshotPublisher
from presto_cached_examples_spark.sources.catalog import load_table
from presto_cached_examples_spark.streaming import runner, stateful
from presto_cached_examples_spark.streaming.incremental import IncrementalAggregator
from presto_cached_examples_spark.streaming.windows import q_stream_tumbling
from tests.conftest import SF_TINY
from tests.util import canon_rows


def _sorted_rows(df):
    return canon_rows(df.toPandas())


def test_stream_tumbling_equals_batch_twin(spark):
    # complete mode: emit open windows too — append mode would hold back
    # windows newer than (max event time - watermark), which is correct
    # streaming behavior but makes the batch comparison asymmetric.
    events = runner.read_events_stream(spark, SF_TINY)
    streamed = runner.run_to_memory(
        runner.tumbling_counts_stream(events), "t_tumbling", output_mode="complete"
    )
    batch = q_stream_tumbling(spark, SF_TINY)
    assert _sorted_rows(streamed) == _sorted_rows(batch)


def test_stream_tumbling_append_holds_back_open_windows(spark):
    """Append mode must emit exactly the windows closed by the final
    watermark — the late-data discipline the reference's single-buffer
    demo lacks (C2)."""
    events = runner.read_events_stream(spark, SF_TINY)
    streamed = runner.run_to_memory(
        runner.tumbling_counts_stream(events), "t_tumbling_append", output_mode="append"
    )
    batch = q_stream_tumbling(spark, SF_TINY).toPandas()
    max_ts = load_table(spark, SF_TINY, "events").agg(F.max("ts")).first()[0]
    import datetime

    cutoff = (max_ts - datetime.timedelta(hours=2)).replace(minute=0, second=0, microsecond=0)
    closed = batch[batch.ws < cutoff]
    assert streamed.count() == len(closed)


def test_stream_dedup_drops_duplicates(spark):
    events = runner.read_events_stream(spark, SF_TINY)
    streamed = runner.run_to_memory(runner.dedup_stream(events), "t_dedup")
    batch = load_table(spark, SF_TINY, "events")
    assert streamed.count() == batch.select("user_id", "event_type").distinct().count()


def test_watermark_drops_late_rows(spark, tmp_path):
    """Two micro-batches: batch 2 contains a row far older than the
    watermark after batch 1 — streaming dedup must drop it."""
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    fresh = [(1, "2024-01-10 12:00:00", 1, "click", 1.0, "{}"),
             (2, "2024-01-10 12:30:00", 2, "view", 2.0, "{}")]
    late = [(3, "2024-01-01 00:00:00", 3, "click", 3.0, "{}")]  # 9 days late

    d = tmp_path / "stream_in"
    d.mkdir()

    def write_batch(rows, fname):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        sdf = spark.createDataFrame(pdf)
        sdf.coalesce(1).write.mode("append").parquet(str(d))

    schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
    ckpt = str(tmp_path / "ckpt")

    def run(name):
        # memory sink can't recover from a checkpoint; foreachBatch can.
        seen: set[int] = set()

        def sink(batch_df, batch_id):
            seen.update(r.event_id for r in batch_df.collect())

        src = spark.readStream.schema(schema).parquet(str(d))
        dedup = src.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
        q = (
            dedup.writeStream.foreachBatch(sink)
            .outputMode("append").trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        return seen

    # run 1: only fresh rows exist; watermark persists to the checkpoint
    # as max(ts) - 1h = 11:30.
    write_batch(fresh, "b1")
    assert run("t_late") == {1, 2}

    # run 2 (same checkpoint): the new file carries a row 9 days older
    # than the persisted watermark — it must be dropped as late.
    write_batch(late, "b2")
    assert 3 not in run("t_late2")


def test_stateful_deltas_match_lag(spark):
    """applyInPandasWithState over the stream == window lag over the batch."""
    events = runner.read_events_stream(spark, SF_TINY)
    streamed = runner.run_to_memory(
        stateful.event_deltas_stateful(events), "t_deltas", output_mode="append"
    )
    from pyspark.sql import Window

    ev = load_table(spark, SF_TINY, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("value_delta"),
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("us_since_prev"),
    )
    assert _sorted_rows(streamed) == _sorted_rows(batch)


def test_stateful_state_spans_batches(spark, tmp_path):
    """The second micro-batch's first delta references state from the
    first micro-batch — the dx/dy-across-polls property."""
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    d = tmp_path / "sin"
    d.mkdir()

    def write(rows):
        pdf = pd.DataFrame(rows, columns=cols)
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(str(d))

    write([(1, "2024-01-01 00:00:00", 7, "click", 10.0, "{}")])
    write([(2, "2024-01-01 00:01:00", 7, "click", 25.0, "{}")])

    schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(str(d))
    q = (
        stateful.event_deltas_stateful(src)
        .writeStream.format("memory").queryName("t_span")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q.awaitTermination()
    rows = {r.event_id: r for r in spark.table("t_span").collect()}
    assert rows[1].value_delta is None
    assert rows[2].value_delta == 15.0 and rows[2].us_since_prev == 60_000_000


def test_snapshot_publisher_isolation(spark):
    pub = SnapshotPublisher(spark, "snap_test")
    df1 = spark.range(5).withColumn("gen", F.lit(1))
    pub.publish(df1)
    reader_v1 = pub.reader()
    assert reader_v1.agg(F.max("gen")).first()[0] == 1

    pub.publish(spark.range(7).withColumn("gen", F.lit(2)))
    # handle resolved before the swap still sees generation 1 (C3)
    assert reader_v1.agg(F.max("gen")).first()[0] == 1
    assert reader_v1.count() == 5
    # new resolution sees generation 2
    assert pub.reader().agg(F.max("gen")).first()[0] == 2
    assert pub.reader().count() == 7
    pub.drop()


def test_incremental_equals_full(spark):
    """C4 equivalence: dirty-key merge == full recompute, batch by batch."""
    ev = load_table(spark, SF_TINY, "events")
    slices = [
        ev.filter(F.dayofmonth("ts") <= 10),
        ev.filter((F.dayofmonth("ts") > 10) & (F.dayofmonth("ts") <= 20)),
        ev.filter(F.dayofmonth("ts") > 20),
    ]
    inc = IncrementalAggregator(spark, ["event_type"], "value", "inc_test")
    full = IncrementalAggregator(spark, ["event_type"], "value", "full_test")
    for s in slices:
        inc.update(s, strategy="incremental")
        full.update(s, strategy="full")
        assert _sorted_rows(inc.result()) == _sorted_rows(full.result())
    # and the final state equals a one-shot aggregate over everything
    one_shot = IncrementalAggregator(spark, ["event_type"], "value", "once_test")
    one_shot.update(ev)
    assert _sorted_rows(inc.result()) == _sorted_rows(one_shot.result())
    inc.publisher.drop()
    full.publisher.drop()
    one_shot.publisher.drop()


def test_incremental_equals_full_across_checkpoints(spark):
    """C4 equivalence over 8 batches with checkpoint_every=3, so the
    "full" history is cut twice and every merge runs against a cut
    state; compared after every batch."""
    ev = load_table(spark, SF_TINY, "events").withColumn(
        "b", F.pmod(F.xxhash64("event_id"), F.lit(8))
    )
    inc = IncrementalAggregator(spark, ["user_id", "event_type"], "value", "inc_ckpt", 3)
    full = IncrementalAggregator(spark, ["user_id", "event_type"], "value", "full_ckpt", 3)
    for b in range(8):
        batch = ev.filter(F.col("b") == b).drop("b")
        inc.update(batch, strategy="incremental")
        full.update(batch, strategy="full")
        assert _sorted_rows(inc.current()) == _sorted_rows(full.current()), f"after batch {b}"
    inc.publisher.drop()
    full.publisher.drop()


def test_strategy_fixed_at_first_update(spark):
    """An "incremental" aggregator keeps no history, so a later "full"
    update must raise instead of recomputing from nothing; the reverse
    switch, and an unknown strategy, raise too."""
    df = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double")
    for first, other in (("incremental", "full"), ("full", "incremental")):
        agg = IncrementalAggregator(spark, ["k"], "v", f"fixed_{first}")
        agg.update(df, strategy=first)
        with pytest.raises(ValueError, match="cannot switch"):
            agg.update(df, strategy=other)
        assert agg.update(df, strategy=first) == 2  # the refused call published nothing
        agg.publisher.drop()
    with pytest.raises(ValueError, match="unknown strategy"):
        IncrementalAggregator(spark, ["k"], "v", "fixed_bad").update(df, strategy="ful")


def test_incremental_update_job_count_is_flat(spark):
    """Each update folds one batch against a materialized state, so its
    job count must not depend on how many batches came before or on
    where the update falls in a `checkpoint_every` period. A state kept
    as a lazy merge chain replays earlier merges and launches more jobs
    the deeper the chain."""
    sc = spark.sparkContext
    agg = IncrementalAggregator(spark, ["k"], "v", "flat_cost", checkpoint_every=4)
    jobs = []
    for i in range(1, 10):
        batch = spark.createDataFrame(
            [("shared", float(i)), (f"new{i}", 1.0), (f"new{i}", 2.0)], "k string, v double"
        )
        group = f"flat_cost-{id(agg)}-{i}"
        sc.setJobGroup(group, f"update {i}")
        try:
            agg.update(batch)
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs[1] > 0
    assert jobs[1:] == [jobs[1]] * 8, f"jobs per update 1..9: {jobs}"
    rows = {r.k: (r.n, r.sum_v) for r in agg.current().collect()}
    assert rows["shared"] == (9, 45.0) and rows["new9"] == (2, 3.0)
    agg.publisher.drop()


def test_aggregator_reader_keeps_its_generation(spark):
    """Snapshot isolation through the aggregator (C3 + C4): a current()
    handle taken at generation 2 returns exactly generation 2's rows
    after two more updates retired it, also once the collectors have
    dropped every block nothing references."""
    import gc
    import time

    agg = IncrementalAggregator(spark, ["k"], "v", "agg_isolation", checkpoint_every=2)

    def batch(i):
        return spark.createDataFrame([("a", float(i)), (f"k{i}", 10.0 * i)], "k string, v double")

    agg.update(batch(1))
    agg.update(batch(2))
    handle = agg.current()
    gen2 = [("a", 2, 3.0), ("k1", 1, 10.0), ("k2", 1, 20.0)]
    agg.update(batch(3))
    agg.update(batch(4))
    jvm = spark.sparkContext._jvm
    for _ in range(3):
        gc.collect()
        jvm.System.gc()
        time.sleep(0.2)

    def rows(df):
        return sorted((r.k, r.n, r.sum_v) for r in df.collect())

    assert rows(handle) == gen2
    assert rows(agg.current()) == [
        ("a", 4, 10.0), ("k1", 1, 10.0), ("k2", 1, 20.0), ("k3", 1, 30.0), ("k4", 1, 40.0)
    ]
    agg.publisher.drop()


def test_observed_metrics(spark):
    from presto_cached_examples_spark.observability import StageTimer, observed

    df = load_table(spark, SF_TINY, "events")
    t = StageTimer()
    dfo, obs = observed(df.filter(F.col("event_type") == "click"))
    n = dfo.count()
    t.lap("scan")
    assert obs.get["rows"] == n
    line = t.summary(rows=n)
    assert "scan=" in line and "F=" in line


def test_incremental_pipeline_end_to_end(spark, tmp_path):
    """EP3 end-to-end: a 2-batch file stream folded incrementally and
    snapshot-published per batch must equal one batch aggregate over
    everything (the glitch-free double-buffer equivalence, C3+C4)."""
    from pyspark.sql import functions as F

    from presto_cached_examples_spark.sources.catalog import load_table
    from presto_cached_examples_spark.streaming.pipeline import run_incremental_pipeline

    ev = load_table(spark, SF_TINY, "events").select("event_id", "event_type", "value")
    src_dir = tmp_path / "ev_stream"
    # two files → two micro-batches under maxFilesPerTrigger=1
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(str(src_dir / "b0"))
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(str(src_dir / "b1"))

    stream = (
        spark.readStream.schema("event_id BIGINT, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src_dir))
    )
    agg = run_incremental_pipeline(
        spark, stream, keys=["event_type"], value_col="value", name="ev_live"
    )

    got = {r.event_type: (r.n, r.sum_v) for r in agg.current().collect()}
    want = {
        r.event_type: (r.n, r.sum_v)
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_v"),
        )
        .collect()
    }
    assert got == want


def test_stream_static_enrich_equals_batch_join(spark):
    """Stream-static broadcast enrichment must equal the batch join."""
    from pyspark.sql import functions as F

    from presto_cached_examples_spark.sources.catalog import load_table
    from presto_cached_examples_spark.streaming.runner import (
        enrich_stream_static,
        read_events_stream,
        run_to_memory,
    )

    dim = load_table(spark, SF_TINY, "customer").select(
        F.col("c_custkey").alias("u_key"), "c_mktsegment"
    )
    stream = read_events_stream(spark, SF_TINY).select("event_id", "user_id")
    enriched = enrich_stream_static(stream, dim, "user_id", "u_key").select(
        "event_id", "user_id", "c_mktsegment"
    )
    got = sorted(run_to_memory(enriched, "enriched").collect())

    ev = load_table(spark, SF_TINY, "events").select("event_id", "user_id")
    want = sorted(
        ev.join(dim, ev.user_id == dim.u_key, "left")
        .select("event_id", "user_id", "c_mktsegment")
        .collect()
    )
    assert got == want


def test_stream_enrich_rollup_equals_registered_twin(spark):
    """The streaming execution of q_stream_enrich's plan (stream →
    broadcast dim join → per-segment rollup in complete mode) must
    equal the registered batch twin the driver hash-checks."""
    from pyspark.sql import functions as F

    from presto_cached_examples_spark.registry import all_specs
    from presto_cached_examples_spark.sources.catalog import load_table
    from presto_cached_examples_spark.streaming.runner import (
        enrich_stream_static,
        read_events_stream,
        run_to_memory,
    )

    dim = load_table(spark, SF_TINY, "customer").select("c_custkey", "c_mktsegment")
    stream = read_events_stream(spark, SF_TINY).select("user_id", "value")
    rolled = (
        enrich_stream_static(stream, dim, "user_id", "c_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    got = sorted(
        run_to_memory(rolled, "enrich_rollup", output_mode="complete").collect()
    )
    want = sorted(all_specs()["q_stream_enrich"].fn(spark, SF_TINY).collect())
    assert got == want


def test_stream_stream_join_equals_batch_twin(spark):
    """Watermarked stream-stream join (purchases with clicks from the
    same user in the preceding hour) equals the batch range join."""
    from pyspark.sql import functions as F

    from presto_cached_examples_spark.sources.catalog import load_table
    from presto_cached_examples_spark.streaming.runner import (
        join_stream_stream,
        read_events_stream,
        run_to_memory,
    )

    def split(df):
        p = df.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("l_event_id"),
            F.col("user_id").alias("l_user_id"),
            F.col("ts").alias("l_ts"),
        )
        c = df.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("r_event_id"),
            F.col("user_id").alias("r_user_id"),
            F.col("ts").alias("r_ts"),
        )
        return p, c

    sp, sc = split(read_events_stream(spark, SF_TINY))
    joined = join_stream_stream(sp, sc).select("l_event_id", "r_event_id")
    got = sorted(tuple(r) for r in run_to_memory(joined, "ss_join").collect())

    # the registered batch twin IS the ground truth (and carries the
    # driver-facing SQL oracle for the same pair set)
    from presto_cached_examples_spark.registry import all_specs

    want = sorted(
        (r.purchase_id, r.click_id)
        for r in all_specs()["q_stream_interval_join"].fn(spark, SF_TINY).collect()
    )
    assert want, "fixture has no in-window purchase/click pairs"
    assert got == want


def test_checkpoint_restart_does_not_reprocess(spark, tmp_path):
    """Fault-tolerance contract: a restarted query with the SAME
    checkpoint resumes from committed offsets — file A, processed
    before the stop, must not be re-emitted after restart (the
    exactly-once half the reference's polled loop cannot offer)."""
    from pyspark.sql import functions as F

    from presto_cached_examples_spark.sources.catalog import load_table

    ev = load_table(spark, SF_TINY, "events").select("event_id", "event_type")
    src = tmp_path / "restart_src"
    ckpt = str(tmp_path / "restart_ckpt")
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    a.coalesce(1).write.parquet(str(src / "a"))

    seen_batches: list[set] = []

    def sink(batch_df, batch_id):
        seen_batches.append({r.event_id for r in batch_df.collect()})

    def drain():
        q = (
            spark.readStream.schema("event_id BIGINT, event_type STRING")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()  # run 1: sees only file A, commits its offsets
    first_total = set().union(*seen_batches) if seen_batches else set()
    assert first_total == {r.event_id for r in a.collect()}

    b.coalesce(1).write.parquet(str(src / "b"))
    seen_batches.clear()
    drain()  # run 2, same checkpoint: must emit ONLY file B

    second_total = set().union(*seen_batches) if seen_batches else set()
    assert second_total == {r.event_id for r in b.collect()}, (
        "restart re-emitted already-committed rows"
    )


def test_transform_with_state_matches_lag(spark, tmp_path):
    """The transformWithStateInPandas delta operator must equal the
    window-lag batch computation (same check the applyInPandasWithState
    variant passes). Needs the RocksDB state store provider, and the
    API's state-server protocol needs the protobuf python package —
    skip (not fail) where the environment lacks it."""
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="transformWithState state server requires protobuf — "
        "see NOTES.md 'Env-gated-paths matrix' (the applyInPandasWithState "
        "twin covers the semantics in this container)",
    )
    import pyspark.sql.functions as F

    from presto_cached_examples_spark.sources.catalog import load_table
    from presto_cached_examples_spark.streaming.runner import read_events_stream
    from presto_cached_examples_spark.streaming.stateful import event_deltas_tws

    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = read_events_stream(spark, SF_TINY).select(
            "user_id", "event_id", "ts", "value"
        )
        out = event_deltas_tws(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("tws_deltas")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r.event_id): (r.value_delta, r.us_since_prev)
            for r in spark.table("tws_deltas").collect()
        }
    finally:
        spark.conf.set(key, old)

    ev = load_table(spark, SF_TINY, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = {
        r.event_id: (r.value_delta, r.us_since_prev)
        for r in ev.select(
            "event_id",
            (F.col("value") - F.lag("value").over(w)).alias("value_delta"),
            (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias(
                "us_since_prev"
            ),
        ).collect()
    }
    assert set(got) == set(want)
    for eid, (vd, us) in want.items():
        gvd, gus = got[eid]
        assert gus == us, f"{eid}: us {gus} != {us}"
        if vd is None:
            assert gvd is None or pd_isna(gvd)
        else:
            assert abs(gvd - vd) < 1e-9, f"{eid}: delta {gvd} != {vd}"


def pd_isna(x):
    import math

    return x is None or (isinstance(x, float) and math.isnan(x))


def test_stream_stream_left_outer_matches_and_defers_nulls(spark):
    """Left-outer watermarked stream-stream join: matched pairs equal
    the batch twin exactly (matches emit eagerly); NULL-padded organic
    rows are a subset of the batch twin's organic set — only purchases
    whose join window the watermark has provably closed may emit, and
    no purchase may appear both matched and NULL-padded. (Which
    organic rows flush depends on micro-batch watermark advancement,
    so the test pins soundness — never-wrong — plus non-emptiness,
    not the exact flush frontier.)"""
    from pyspark.sql import functions as F

    from presto_cached_examples_spark.registry import all_specs
    from presto_cached_examples_spark.streaming.runner import (
        join_stream_stream,
        read_events_stream,
        run_to_memory,
    )

    def split(df):
        p = df.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("l_event_id"),
            F.col("user_id").alias("l_user_id"),
            F.col("ts").alias("l_ts"),
        )
        c = df.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("r_event_id"),
            F.col("user_id").alias("r_user_id"),
            F.col("ts").alias("r_ts"),
        )
        return p, c

    sp, sc = split(read_events_stream(spark, SF_TINY))
    joined = join_stream_stream(sp, sc, how="leftOuter").select(
        "l_event_id", "r_event_id"
    )
    got = [tuple(r) for r in run_to_memory(joined, "ss_left_join").collect()]
    got_pairs = sorted(t for t in got if t[1] is not None)
    got_null_ids = {t[0] for t in got if t[1] is None}

    batch = all_specs()["q_stream_interval_left"].fn(spark, SF_TINY).collect()
    want_pairs = sorted(
        (r.purchase_id, r.click_id) for r in batch if r.click_id is not None
    )
    want_organic_ids = {r.purchase_id for r in batch if r.is_organic}

    assert got_pairs == want_pairs
    assert got_null_ids, "watermark never flushed any organic purchase"
    assert got_null_ids <= want_organic_ids
    assert not (got_null_ids & {p for p, _ in got_pairs})


def test_stream_alert_equals_batch_twin(spark):
    """q_stream_alert executed as a REAL stream (VERDICT r7 item 5):
    watermarked 6h tumbling error counts run as the stateful streaming
    agg (update mode), each micro-batch refreshes an accumulated
    window relation, and the shared alert_verdict projection —
    baseline recomputed per batch — must converge to the batch twin
    exactly once the fixture drains."""
    import datetime

    from presto_cached_examples_spark.registry import all_specs
    from presto_cached_examples_spark.streaming.runner import (
        alert_counts_stream,
        read_events_stream,
    )
    from presto_cached_examples_spark.streaming.windows import alert_verdict

    acc: dict = {}
    verdicts_per_batch: list[int] = []

    def sink(batch_df, batch_id):
        # merge this batch's updated windows into the accumulated
        # relation (test-scale stand-in for the serving table a
        # production pipeline would MERGE into) ...
        for r in batch_df.collect():
            acc[r.ws] = (int(r.n_events), int(r.n_errors))
        if not acc:
            return
        # ... and refresh the global-baseline verdicts over it — the
        # per-batch re-execution of the shared projection
        cur = batch_df.sparkSession.createDataFrame(
            [(ws, n, e) for ws, (n, e) in acc.items()],
            "ws timestamp, n_events long, n_errors long",
        )
        verdicts_per_batch.append(alert_verdict(cur).count())

    q = (
        alert_counts_stream(read_events_stream(spark, SF_TINY))
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert acc, "stream emitted no windows"
    assert verdicts_per_batch, "alert projection never refreshed"
    final = spark.createDataFrame(
        [(ws, n, e) for ws, (n, e) in acc.items()],
        "ws timestamp, n_events long, n_errors long",
    )
    got = sorted(tuple(r) for r in alert_verdict(final).collect())
    want = sorted(
        tuple(r)
        for r in all_specs()["q_stream_alert"].fn(spark, SF_TINY).collect()
    )
    assert want and got == want
    assert any(r[4] for r in got), "fixture raises no alert — rule untested"


def test_continuous_trigger_pipeline_always_on(spark):
    """R28/EP2 closure (VERDICT r5 item 6): a processingTime-triggered
    LONG-RUNNING query (not an availableNow drain) folds >=3 rate-source
    batches while a concurrent reader samples the published snapshot.
    Every sampled snapshot must be a COMPLETE batch-boundary state:
    the rate source emits value = 0,1,2,... contiguously, so any
    published aggregate must cover exactly the prefix 0..M — total
    count M+1 and total sum M(M+1)/2 for M = max(max_v). A reader that
    ever saw a half-merged batch would break the prefix identity."""
    from pyspark.sql import functions as F

    from presto_cached_examples_spark.streaming.pipeline import run_continuous_pipeline

    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "200")
        .load()
        .select((F.col("value") % 4).alias("k"), F.col("value").cast("double").alias("v"))
    )

    from presto_cached_examples_spark.streaming.incremental import IncrementalAggregator

    samples: list[tuple[int, float, float]] = []
    agg = IncrementalAggregator(spark, keys=["k"], value_col="v", name="continuous_demo")

    def sample() -> None:
        rows = (
            agg.current()
            .agg(F.sum("n").alias("n"), F.sum("sum_v").alias("s"), F.max("max_v").alias("m"))
            .collect()[0]
        )
        samples.append((rows.n, rows.s, rows.m))

    agg, versions = run_continuous_pipeline(
        spark,
        src,
        keys=["k"],
        value_col="v",
        name="continuous_demo",
        processing_time="1 second",
        min_batches=3,
        sample=sample,
        agg=agg,
    )

    # the query really was always-on: >=3 published generations,
    # monotonically increasing versions
    assert len(versions) >= 3 and versions == sorted(versions)
    # final state is itself a complete prefix
    sample()
    assert samples, "reader never sampled a snapshot"
    for n, s, m in samples:
        assert n == int(m) + 1, f"count {n} is not the complete prefix 0..{int(m)}"
        assert abs(s - m * (m + 1) / 2) < 1e-6, f"sum {s} != prefix sum for M={m}"
    # and the stream actually advanced across batches
    assert samples[-1][0] > samples[0][0] or len(versions) > 3
    agg.publisher.drop()
