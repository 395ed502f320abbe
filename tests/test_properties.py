"""Property-based tests (SURVEY.md §5.2 item 4) — algebraic invariants
over randomized inputs via hypothesis.

Each property is the engine-level generalization of a reference
behavior: filter/projection commutation and union additivity are plan
identities Catalyst must preserve; rank bounds pin window semantics;
dedup idempotence is the exact-dedup contract; incremental == full is
the C4 glitch-free double-buffer equivalence
(/root/reference/src/DoublePsramBuffer480x480.cpp:176-186).

Spark jobs dominate runtime, so examples are small and capped; the
deadline is disabled because JVM warm-up skews the first example.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import Window
from pyspark.sql import functions as F

PROP = settings(
    max_examples=8,
    deadline=None,
    derandomize=True,  # deterministic examples: a CI run can't trip on a fresh seed
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),  # key
        st.integers(min_value=-1000, max_value=1000),  # value
    ),
    min_size=0,
    max_size=40,
)


def mkdf(spark, data):
    return spark.createDataFrame(
        [(i, k, float(v)) for i, (k, v) in enumerate(data)], "id long, k long, v double"
    )


@PROP
@given(data=rows, threshold=st.integers(min_value=-1000, max_value=1000))
def test_filter_commutes_with_projection(spark, data, threshold):
    df = mkdf(spark, data)
    a = df.filter(F.col("v") > threshold).select("id", "k")
    b = df.select("id", "k", "v").filter(F.col("v") > threshold).select("id", "k")
    assert sorted(a.collect()) == sorted(b.collect())


@PROP
@given(data1=rows, data2=rows)
def test_union_all_count_additivity(spark, data1, data2):
    d1, d2 = mkdf(spark, data1), mkdf(spark, data2)
    assert d1.unionByName(d2).count() == d1.count() + d2.count()


@PROP
@given(data=rows)
def test_window_rank_bounds(spark, data):
    df = mkdf(spark, data)
    w = Window.partitionBy("k").orderBy("v", "id")
    ranked = df.withColumn("rn", F.row_number().over(w))
    got = ranked.groupBy("k").agg(
        F.min("rn").alias("lo"), F.max("rn").alias("hi"), F.count(F.lit(1)).alias("n")
    )
    for r in got.collect():
        assert r.lo == 1 and r.hi == r.n  # ranks are exactly 1..|partition|


@PROP
@given(data=rows)
def test_dedup_idempotent(spark, data):
    df = mkdf(spark, data).select("k", "v")
    once = df.dropDuplicates()
    twice = once.dropDuplicates()
    assert sorted(once.collect()) == sorted(twice.collect())
    # every surviving (k, v) appeared in the input; none appears twice
    survivors = [tuple(r) for r in once.collect()]
    assert len(survivors) == len(set(survivors))
    assert set(survivors) <= {(k, float(v)) for k, v in data}


@PROP
@given(batches=st.lists(rows, min_size=1, max_size=4))
def test_incremental_equals_full_refresh(spark, batches):
    """C4: folding batches one at a time through the incremental merge
    must equal a single full recompute over the concatenation."""
    from presto_cached_examples_spark.streaming.incremental import IncrementalAggregator

    inc = IncrementalAggregator(spark, keys=["k"], value_col="v", name="prop_inc")
    full = IncrementalAggregator(spark, keys=["k"], value_col="v", name="prop_full")
    for batch in batches:
        df = mkdf(spark, batch)
        inc.update(df, strategy="incremental")
        full.update(df, strategy="full")
    key = lambda r: r.k  # noqa: E731
    assert sorted(inc.result().collect(), key=key) == sorted(
        full.result().collect(), key=key
    )


def test_incremental_lineage_stays_bounded(spark):
    """50+ folded batches must not deepen the state's plan without
    bound: the localCheckpoint cut of the merged state caps the
    explain-tree size, and results stay correct (sum over all
    batches). Guards the retired-generation recompute cost (C4)."""
    from presto_cached_examples_spark.streaming.incremental import IncrementalAggregator

    agg = IncrementalAggregator(
        spark, keys=["k"], value_col="v", name="prop_bounded", checkpoint_every=8
    )
    sizes = []
    for i in range(52):
        df = spark.createDataFrame([("a", float(i)), ("b", 1.0)], "k string, v double")
        agg.update(df, strategy="incremental")
        sizes.append(len(agg._state._jdf.queryExecution().toString()))
    # after a cut the plan is a scan of the checkpoint RDD; max plan
    # size across updates must stay near the first-cycle peak, not grow
    # with total batch count
    peak_first_cycle = max(sizes[:8])
    assert max(sizes) <= peak_first_cycle * 2, (
        f"plan size grew unbounded: first-cycle peak {peak_first_cycle}, "
        f"overall max {max(sizes)}"
    )
    rows = {r.k: (r.n, r.sum_v) for r in agg.result().collect()}
    assert rows["b"] == (52, 52.0)
    assert rows["a"] == (52, round(sum(float(i) for i in range(52)), 2))
    agg.publisher.drop()


@PROP
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),       # group key
            st.integers(min_value=0, max_value=500_000), # cents
        ),
        min_size=1,
        max_size=60,
    )
)
def test_bucket_quantiles_match_numpy(spark, data):
    """The round-5 cent-bucket percentile decomposition must agree with
    numpy's linear interpolation on arbitrary integer-cent data — an
    oracle INDEPENDENT of DuckDB (method='linear' is the same
    v_lo + frac*(v_hi - v_lo) definition as quantile_cont)."""
    import numpy as np

    from pyspark.sql import Window as W

    df = spark.createDataFrame(
        [(g, float(c)) for g, c in data], "g long, cents double"
    )
    counts = df.groupBy("g", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = W.partitionBy("g").orderBy("cents").rowsBetween(W.unboundedPreceding, 0)
    b = counts.select(
        "g",
        "cents",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(W.partitionBy("g")).alias("n"),
    )

    def quantile(p):
        h = (F.col("n") - 1) * F.lit(p)
        k_lo = F.floor(h) + 1
        k_hi = F.least(k_lo + 1, F.col("n"))
        v_lo = F.min(F.when(F.col("cum") >= k_lo, F.col("cents")))
        v_hi = F.min(F.when(F.col("cum") >= k_hi, F.col("cents")))
        return v_lo + F.min(h - F.floor(h)) * (v_hi - v_lo)

    got = {
        r["g"]: (r["q25"], r["q50"], r["q75"])
        for r in b.groupBy("g")
        .agg(quantile(0.25).alias("q25"), quantile(0.50).alias("q50"), quantile(0.75).alias("q75"))
        .collect()
    }
    by_g: dict = {}
    for g, c in data:
        by_g.setdefault(g, []).append(float(c))
    for g, vals in by_g.items():
        want = tuple(float(np.percentile(vals, q, method="linear")) for q in (25, 50, 75))
        assert got[g] == want, (g, got[g], want)


# ---------------------------------------------------------------------------
# Round-7 binary parsers — pure-function fuzz (no Spark jobs, so these
# can afford many more examples than the engine-level properties)
# ---------------------------------------------------------------------------

PURE = settings(max_examples=200, deadline=None, derandomize=True)


@PURE
@given(
    raw=st.binary(min_size=0, max_size=512),
    rate=st.sampled_from([8000, 16000, 44100]),
    nch=st.integers(min_value=1, max_value=2),
    width=st.sampled_from([1, 2]),
)
def test_wav_roundtrip_property(raw, rate, nch, width):
    """Any PCM payload wave can write, _decode_wav must read back with
    identical rate/channels/width and exact sample values."""
    import io
    import wave

    import numpy as np

    from presto_cached_examples_spark.llm.multimodal import _decode_wav

    frame = nch * width
    raw = raw[: len(raw) - (len(raw) % frame)] if frame else raw
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(width)
        w.setframerate(rate)
        w.writeframes(raw)
    r, c, wd, samples = _decode_wav(buf.getvalue())
    assert (r, c, wd) == (rate, nch, width)
    if width == 1:
        want = (np.frombuffer(raw, dtype=np.uint8).astype(np.int32) - 128).tolist()
    else:
        want = np.frombuffer(raw, dtype="<i2").astype(np.int32).tolist()
    assert samples.tolist() == want


@PURE
@given(
    bodies=st.lists(
        st.tuples(
            st.sampled_from([b"free", b"skip", b"wide", b"mdat"]),
            st.binary(min_size=0, max_size=64),
        ),
        min_size=0,
        max_size=6,
    ),
    timescale=st.integers(min_value=1, max_value=1_000_000),
    duration=st.integers(min_value=0, max_value=2**31 - 1),
    n_tracks=st.integers(min_value=0, max_value=5),
    v1=st.booleans(),
)
def test_mp4_parser_property(bodies, timescale, duration, n_tracks, v1):
    """A well-formed box tree with arbitrary sibling boxes around
    ftyp/moov must parse to exactly the written metadata; truncating
    the payload anywhere inside a box must raise, never mis-parse."""
    import struct

    import pytest

    from presto_cached_examples_spark.llm.multimodal import _decode_mp4_meta

    def box(btype, body):
        return struct.pack(">I", 8 + len(body)) + btype + body

    if v1:
        mvhd = box(
            b"mvhd",
            b"\x01\x00\x00\x00"
            + struct.pack(">QQIQ", 0, 0, timescale, duration)
            + b"\x00" * 80,
        )
    else:
        mvhd = box(
            b"mvhd",
            b"\x00\x00\x00\x00"
            + struct.pack(">IIII", 0, 0, timescale, duration)
            + b"\x00" * 80,
        )
    moov = box(b"moov", mvhd + b"".join(box(b"trak", b"") for _ in range(n_tracks)))
    payload = box(b"ftyp", b"isom" + struct.pack(">I", 0))
    for btype, body in bodies:
        payload += box(btype, body)
    payload += moov
    brand, ts, dur, trk = _decode_mp4_meta(payload)
    assert (brand, ts, dur, trk) == ("isom", timescale, duration, n_tracks)
    # truncation inside the final box must fail loudly
    if len(payload) > 9:
        with pytest.raises(ValueError):
            _decode_mp4_meta(payload[:-5])


@PROP
@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=64),
        min_size=1,
        max_size=28,
    )
)
def test_ewma_fold_bounded_by_frame(spark, vals):
    """The adjust=False EWMA fold (q_revenue_ewma's expression) is a
    convex combination of the frame, so it must lie in
    [min(frame), max(frame)] for any frame."""
    df = spark.createDataFrame([(vals,)], "arr array<double>")
    ewma = F.aggregate(
        F.slice(F.col("arr"), 2, F.greatest(F.size("arr") - 1, F.lit(0))),
        F.element_at(F.col("arr"), 1),
        lambda acc, x: 0.7 * acc + 0.3 * x,
    )
    [row] = df.select(ewma.alias("e")).collect()
    assert min(vals) - 1e-9 <= row.e <= max(vals) + 1e-9


@PROP
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10_000),  # n
            st.floats(min_value=0.0, max_value=1.0, allow_nan=False),  # rate
        ),
        min_size=1,
        max_size=20,
    )
)
def test_wilson_interval_brackets_and_bounds(spark, pairs):
    """q_returns_wilson's CI formula must bracket p_hat and stay inside
    [0, 1] for any (k, n) — including k=0 and k=n, where the naive Wald
    interval escapes the unit range."""
    data = [(i, int(round(n * r)), n) for i, (n, r) in enumerate(pairs)]
    df = spark.createDataFrame(data, "id long, k long, n long")
    z = 1.96
    p = F.col("k") / F.col("n")
    nn = F.col("n")
    center = p + z * z / (2 * nn)
    half = z * F.sqrt(p * (1 - p) / nn + z * z / (4.0 * nn * nn))
    denom = 1 + z * z / nn
    out = df.select(
        p.alias("p"),
        ((center - half) / denom).alias("lo"),
        ((center + half) / denom).alias("hi"),
    ).collect()
    for r in out:
        assert 0.0 - 1e-12 <= r.lo <= r.p + 1e-12
        assert r.p - 1e-12 <= r.hi <= 1.0 + 1e-12


@PROP
@given(
    left=st.lists(st.one_of(st.none(), st.integers(0, 3)), max_size=25),
    right=st.lists(st.one_of(st.none(), st.integers(0, 3)), max_size=25),
)
def test_nullsafe_join_counts_match_group_products(spark, left, right):
    """eqNullSafe inner-join cardinality == sum over keys (incl. NULL)
    of |left group| x |right group| — the q_join_nullsafe contract."""
    from collections import Counter

    ldf = spark.createDataFrame([(v,) for v in left], "k int")
    rdf = spark.createDataFrame([(v,) for v in right], "k int")
    got = ldf.join(
        rdf.withColumnRenamed("k", "k2"), F.col("k").eqNullSafe(F.col("k2"))
    ).count()
    lc, rc = Counter(left), Counter(right)
    want = sum(c * rc[k] for k, c in lc.items())
    assert got == want
