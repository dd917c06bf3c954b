"""Error bounds for the mergeable-sketch operators
(operators/sketch.py). Sketch output is engine-specific, so the
registry's oracles check exact counts and bound columns, not the raw
estimates; these tests check the estimates themselves: they must sit
inside the structures' published bounds relative to exact counts."""

from __future__ import annotations

from pyspark.sql import functions as F

from movievectorsearch_spark.catalog import load_table
from movievectorsearch_spark.operators.sketch import (
    cms_build,
    cms_estimate,
    cms_estimate_join,
    cms_table,
    hll_rollup,
)


def test_hll_rollup_within_relative_error(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    )
    est = {
        r.event_type: r.est_distinct
        for r in hll_rollup(e, ["event_type"], "day", "user_id").collect()
    }
    exact = {
        r.event_type: r.n
        for r in e.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for k, n in exact.items():
        # lgk=12 → ~1.6% RSE; 5% is > 3 sigma
        assert abs(est[k] - n) <= max(2, 0.05 * n), (k, est[k], n)


def test_hll_union_equals_single_sketch_domain(spark, sf_dir):
    """Union of per-day sketches must estimate the same set as one
    global sketch — mergeability, the property that lets sketches be
    persisted per partition grain."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    )
    merged = {
        r.event_type: r.est_distinct
        for r in hll_rollup(e, ["event_type"], "day", "user_id").collect()
    }
    single = {
        r.event_type: r.est
        for r in e.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12)))
            .cast("bigint")
            .alias("est")
        )
        .collect()
    }
    assert merged == single


def test_cms_bounds(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    eps = 0.001
    total = e.count()
    sketch = cms_build(e, "event_type", eps=eps)
    exact = {
        r.event_type: r.n
        for r in e.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    for k, n in exact.items():
        est = cms_estimate(spark, sketch, k)
        assert est >= n, "CMS must never underestimate"
        assert est <= n + eps * total + 1

    # a key never seen must estimate ~0 (≤ eps·N collisions)
    assert cms_estimate(spark, sketch, "no_such_event") <= eps * total


def test_relational_cms_bounds_and_no_driver_loop(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    sketch = cms_table(e, "event_type", depth=5, width=1024)
    assert sketch.count() <= 5 * 1024  # counter table, not data-sized
    cands = e.select("event_type").distinct()
    est = cms_estimate_join(cands, sketch, "event_type", depth=5, width=1024)
    exact = {
        r.event_type: r.n
        for r in e.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    got = {r.event_type: r.cms_n for r in est.collect()}
    assert set(got) == set(exact)
    for k, n in exact.items():
        assert got[k] >= n, "CMS must never underestimate"
    # estimate path is one declarative plan: broadcast hash join of the
    # counter table, no collect-per-key (the plan would show nothing if
    # the estimates came from a driver loop)
    plan = est._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_relational_cms_collisions_still_upper_bound(spark):
    # force collisions with a tiny width: estimates may inflate but
    # must remain upper bounds
    df = spark.createDataFrame(
        [(f"k{i % 7}",) for i in range(700)], "key string"
    )
    sketch = cms_table(df, "key", depth=4, width=4)
    exact = {
        r.key: r.n
        for r in df.groupBy("key").agg(F.count("*").alias("n")).collect()
    }
    est = cms_estimate_join(
        df.select("key").distinct(), sketch, "key", depth=4, width=4
    )
    for r in est.collect():
        assert r.cms_n >= exact[r.key]


def test_relational_cms_mergeable(spark, sf_dir):
    # sum of per-shard sketches == whole-corpus sketch (the property
    # that lets counter tables persist per partition grain)
    e = load_table(spark, sf_dir, "events")
    s_all = cms_table(e, "event_type", depth=3, width=64)
    h1 = e.filter(F.col("event_id") % 2 == 0)
    h2 = e.filter(F.col("event_id") % 2 == 1)
    merged = (
        cms_table(h1, "event_type", depth=3, width=64)
        .unionByName(cms_table(h2, "event_type", depth=3, width=64))
        .groupBy("row", "bucket")
        .agg(F.sum("n").alias("n"))
    )
    a = {(r.row, r.bucket): r.n for r in s_all.collect()}
    b = {(r.row, r.bucket): r.n for r in merged.collect()}
    assert a == b


# ---------------------------------------------------------------------------
# fixed-bin histogram quantile sketch
# ---------------------------------------------------------------------------

def test_histogram_sketch_is_mergeable(spark, sf_dir):
    """Per-shard histograms merged by summing counts == whole-corpus
    histogram — the property that lets a 100 TB scan keep only n_bins
    integers per grain."""
    from movievectorsearch_spark.operators.sketch import histogram_sketch

    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    whole = {
        r.bin: r.cnt for r in histogram_sketch(e, "value", 64).collect()
    }
    # shard by event_id parity, bin against the SAME global domain
    stats = e.agg(
        F.min(F.col("value").cast("double")).alias("vmin"),
        F.max(F.col("value").cast("double")).alias("vmax"),
    )
    merged: dict = {}
    for parity in (0, 1):
        shard = e.filter(F.col("event_id") % 2 == parity).crossJoin(
            F.broadcast(stats)
        )
        bin_ = F.least(
            F.lit(63),
            F.floor(
                (F.col("value").cast("double") - F.col("vmin"))
                * 64
                / (F.col("vmax") - F.col("vmin"))
            ),
        ).cast("int")
        for r in (
            shard.select(bin_.alias("bin"))
            .groupBy("bin")
            .agg(F.count("*").alias("cnt"))
            .collect()
        ):
            merged[r.bin] = merged.get(r.bin, 0) + r.cnt
    assert merged == whole


def test_histogram_quantiles_close_to_exact(spark, sf_dir):
    """Interpolated estimates sit within one bin width of the exact
    percentile (the sketch's worst-case error bound)."""
    from movievectorsearch_spark.operators.sketch import (
        histogram_quantiles,
        histogram_sketch,
    )

    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    hist = histogram_sketch(e, "value", 128)
    est = {r.pct: r.est for r in histogram_quantiles(hist, [50, 95, 99]).collect()}
    lo, hi = e.agg(
        F.min(F.col("value").cast("double")), F.max(F.col("value").cast("double"))
    ).first()
    width = (hi - lo) / 128.0
    exact = e.selectExpr(
        "percentile(CAST(value AS DOUBLE), array(0.5, 0.95, 0.99)) AS p"
    ).first()["p"]
    for pct, ex in zip((50, 95, 99), exact):
        assert abs(est[pct] - ex) <= width + 1e-9, (pct, est[pct], ex, width)


def test_grouped_histogram_quantiles_close_to_exact(spark, sf_dir):
    """Per-group estimates sit within one group-bin-width of the exact
    per-group percentile."""
    from movievectorsearch_spark.operators.sketch import (
        histogram_quantiles_grouped,
        histogram_sketch_grouped,
    )

    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    hist = histogram_sketch_grouped(e, "event_type", "value", 128)
    est = {
        (r.grp, r.pct): r.est
        for r in histogram_quantiles_grouped(hist, [50, 95, 99]).collect()
    }
    stats = {
        r.event_type: (r.lo, r.hi)
        for r in e.groupBy("event_type")
        .agg(
            F.min(F.col("value").cast("double")).alias("lo"),
            F.max(F.col("value").cast("double")).alias("hi"),
        )
        .collect()
    }
    # the sketch's guarantee is against the ORDER STATISTIC at the
    # target rank (ceil(p·n/100)): the estimate lies inside that row's
    # bin. (The interpolated percentile can sit further away when
    # adjacent order stats span several bins in a sparse tail.)
    import math

    vals: dict = {}
    for r in e.select("event_type", F.col("value").cast("double")).collect():
        vals.setdefault(r.event_type, []).append(r[1])
    for grp, (lo, hi) in stats.items():
        width = (hi - lo) / 128.0
        v = sorted(vals[grp])
        for pct in (50, 95, 99):
            rank = math.ceil(pct * len(v) / 100)
            v_r = v[rank - 1]
            assert abs(est[(grp, pct)] - v_r) <= width + 1e-9, (
                grp, pct, est[(grp, pct)], v_r, width,
            )


def test_grouped_histogram_merges_within_group_bin(spark, sf_dir):
    """Sharded per-group histograms merged by summing (grp, bin) counts
    equal the whole-corpus grouped histogram."""
    from movievectorsearch_spark.operators.sketch import histogram_sketch_grouped

    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    whole = {
        (r.grp, r.bin): r.cnt
        for r in histogram_sketch_grouped(e, "event_type", "value", 64).collect()
    }
    merged: dict = {}
    for parity in (0, 1):
        shard = e.filter(F.col("event_id") % 2 == parity)
        # same global per-group domains: derive from the FULL table
        stats = e.groupBy(F.col("event_type").alias("grp")).agg(
            F.min(F.col("value").cast("double")).alias("vmin"),
            F.max(F.col("value").cast("double")).alias("vmax"),
        )
        joined = shard.join(
            F.broadcast(stats), shard["event_type"] == stats["grp"]
        )
        bin_ = F.least(
            F.lit(63),
            F.floor(
                (F.col("value").cast("double") - F.col("vmin"))
                * 64
                / (F.col("vmax") - F.col("vmin"))
            ),
        ).cast("int")
        for r in (
            joined.select("grp", bin_.alias("bin"))
            .groupBy("grp", "bin")
            .agg(F.count("*").alias("cnt"))
            .collect()
        ):
            merged[(r.grp, r.bin)] = merged.get((r.grp, r.bin), 0) + r.cnt
    assert merged == whole


# ---------------------------------------------------------------------------
# Bloom membership filter (batch 17)
# ---------------------------------------------------------------------------

def test_bloom_no_false_negatives_and_merge(spark):
    from pyspark.sql import functions as F

    from movievectorsearch_spark.operators.sketch import bloom_bits, bloom_probe

    a = spark.createDataFrame([(i,) for i in range(0, 50)], "k long")
    b = spark.createDataFrame([(i,) for i in range(50, 100)], "k long")
    bits_a = bloom_bits(a, "k", 1 << 12, 4)
    bits_b = bloom_bits(b, "k", 1 << 12, 4)
    # mergeable: union-distinct of two shard filters == filter of the union
    merged = bits_a.unionByName(bits_b).distinct()
    bits_all = bloom_bits(a.unionByName(b), "k", 1 << 12, 4)
    assert {r.pos for r in merged.collect()} == {r.pos for r in bits_all.collect()}

    probe = spark.createDataFrame([(i,) for i in range(0, 200)], "k long")
    out = {r.k: r.maybe_seen for r in
           bloom_probe(merged, probe, "k", 1 << 12, 4).collect()}
    # NO false negatives: every inserted key must be maybe_seen
    assert all(out[i] for i in range(100))
    # the absent half may have false positives but not be all-positive
    absent_hits = sum(1 for i in range(100, 200) if out[i])
    assert absent_hits < 100


def test_bloom_definitely_new_is_exact(spark):
    from movievectorsearch_spark.operators.sketch import bloom_bits, bloom_probe

    seen = spark.createDataFrame([(i * 7,) for i in range(30)], "k long")
    bits = bloom_bits(seen, "k", 1 << 12, 4)
    probe = spark.createDataFrame([(i,) for i in range(300)], "k long")
    out = bloom_probe(bits, probe, "k", 1 << 12, 4).collect()
    inserted = {i * 7 for i in range(30)}
    for r in out:
        if not r.maybe_seen:
            assert r.k not in inserted  # definitely-new never lies
