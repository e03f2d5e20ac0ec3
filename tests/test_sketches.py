"""Mergeable-sketch operators (llmops/sketches.py): HyperLogLog, KMV /
theta overlap, count-min. Tests pin the sketch GUARANTEES (merge
algebra, overestimate bounds, exhausted-sample exactness, accuracy
within the published error of each sketch) rather than single values —
the DuckDB oracle gate already checks the exact arithmetic."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data__converter_spark.llmops import sketches


@pytest.fixture(scope="module")
def keys10k(spark):
    return spark.range(10_000).select(F.col("id").alias("k"))


def test_hll_estimate_within_published_error(spark, keys10k):
    """Relative error of HLL with m=256 is ~1.04/sqrt(m) = 6.5%; pin a
    3-sigma bound so hash quirks can't flake it."""
    reg = sketches.hll_registers(keys10k, "k")
    row = sketches.hll_estimate(reg).collect()[0]
    assert abs(row["est_distinct"] - 10_000) / 10_000 < 0.20
    assert row["v_zero"] == 0
    assert not row["small_range"]


def test_hll_merge_equals_union_registers(spark):
    """Sketch-union law: merging per-group registers with max(rho) is
    EXACTLY the register frame of the concatenated input — the property
    that makes per-shard/per-day HLL state roll up without rescans."""
    df = spark.range(5_000).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("g")
    )
    per = sketches.hll_registers(df, "k", ["g"])
    merged = {
        (r["idx"], r["rho"]) for r in sketches.hll_merge(per, ["g"]).collect()
    }
    direct = {
        (r["idx"], r["rho"])
        for r in sketches.hll_registers(df, "k").collect()
    }
    assert merged == direct


def test_hll_small_range_flagged(spark):
    reg = sketches.hll_registers(
        spark.range(50).select(F.col("id").alias("k")), "k"
    )
    row = sketches.hll_estimate(reg).collect()[0]
    assert row["small_range"]
    assert row["v_zero"] > 0


def test_kmv_exhausted_sample_is_exact(spark):
    """Fewer distinct keys than k: the sketch IS the key set, so the
    estimate must be exact and flagged."""
    h = spark.range(40).select(sketches.md5_hash32("id").alias("h"))
    row = sketches.kmv_estimate(h, "h", k=128).collect()[0]
    assert row["exhausted"]
    assert row["est_distinct"] == 40
    assert row["k_used"] == 40


def test_kmv_estimate_accuracy(spark, keys10k):
    """KMV relative error ~1/sqrt(k-1) = 8.9% at k=128; 3-sigma bound."""
    h = keys10k.select(sketches.md5_hash32("k").alias("h"))
    row = sketches.kmv_estimate(h, "h", k=128).collect()[0]
    assert not row["exhausted"]
    assert abs(row["est_distinct"] - 10_000) / 10_000 < 0.27


def test_theta_overlap_bounds_and_accuracy(spark):
    """A = [0, 2000), B = [1000, 3000): true Jaccard 1/3. The theta
    sample is an unbiased fixed-rate sample of the union, so the
    permille estimate lands near 333; the hard bounds (common <= each
    side, union >= each side) must hold exactly."""
    a = spark.range(0, 2000).select(sketches.md5_hash32("id").alias("h"))
    b = spark.range(1000, 3000).select(sketches.md5_hash32("id").alias("h"))
    row = sketches.theta_overlap(a, b, "h", k=128).collect()[0]
    assert row["n_common"] <= min(row["n_a"], row["n_b"])
    assert row["n_union"] <= row["n_a"] + row["n_b"]
    assert row["n_union"] >= max(row["n_a"], row["n_b"])
    assert abs(row["jaccard_permille"] - 333) < 150
    # disjoint sides -> zero intersection estimate, exactly
    c = spark.range(50_000, 52_000).select(sketches.md5_hash32("id").alias("h"))
    row0 = sketches.theta_overlap(a, c, "h", k=128).collect()[0]
    assert row0["n_common"] == 0 and row0["inter_est"] == 0


def test_cms_never_underestimates(spark):
    """The count-min guarantee: every point estimate >= the true count
    (collisions only ADD). Width 8 forces heavy collisions."""
    df = spark.createDataFrame(
        [(w,) for w in ("a b c a b a x y z w q r s t u v".split())], "tok: string"
    )
    truth = {
        r["tok"]: r["cnt"]
        for r in df.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    cms = sketches.cms_table(df, "tok", depth=4, width=8)
    est = {
        r["k"]: r["cms_est"]
        for r in sketches.cms_point_estimates(
            cms, df.select("tok").distinct(), "tok", depth=4, width=8
        ).collect()
    }
    assert set(est) == set(truth)
    for tok, cnt in truth.items():
        assert est[tok] >= cnt


def test_cms_exact_when_wide(spark):
    """With width >> distinct keys and 4 independent rows, collisions in
    EVERY row are vanishingly unlikely for this fixed seed set — the
    min recovers the exact counts (checked, not assumed: this pins the
    bucket arithmetic end-to-end)."""
    df = spark.createDataFrame(
        [(f"w{i % 7}",) for i in range(70)], "tok: string"
    )
    cms = sketches.cms_table(df, "tok", depth=4, width=1024)
    est = sketches.cms_point_estimates(
        cms, df.select("tok").distinct(), "tok", depth=4, width=1024
    ).collect()
    assert all(r["cms_est"] == 10 for r in est)


def test_kmv_compiles_to_take_ordered(spark, keys10k):
    """The k-smallest step must be TakeOrderedAndProject (per-partition
    top-k, no global sort) — the property that keeps the sketch cheap
    on a 1000-executor scan."""
    from tests.test_plans import plan_of

    h = keys10k.select(sketches.md5_hash32("k").alias("h"))
    p = plan_of(sketches.kmv_sketch(h, "h", k=128))
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p.replace("TakeOrderedAndProject", "")


def test_cms_inner_product_overestimates_join_size(spark):
    """AMS/CMS join-size law: the grid inner product never
    underestimates sum_k a_k*b_k, and with width >> keys it recovers
    the exact size (no colliding cross terms for this fixed key set)."""
    a = spark.createDataFrame([(k,) for k in [1, 1, 1, 2, 2, 3]], "k: long")
    b = spark.createDataFrame([(k,) for k in [1, 2, 2, 2, 4]], "k: long")
    exact = 3 * 1 + 2 * 3  # k=1: 3*1, k=2: 2*3, others unmatched
    ca = sketches.cms_table(a, "k", depth=4, width=1024)
    cb = sketches.cms_table(b, "k", depth=4, width=1024)
    est = sketches.cms_inner_product(ca, cb).collect()[0]["est_size"]
    assert est == exact
    # narrow grid: collisions may only ADD
    ca8 = sketches.cms_table(a, "k", depth=2, width=4)
    cb8 = sketches.cms_table(b, "k", depth=2, width=4)
    est8 = sketches.cms_inner_product(ca8, cb8).collect()[0]["est_size"]
    assert est8 >= exact


def test_cms_absent_probe_estimates_zero(spark):
    """A probe key none of whose (seed, bucket) cells were ever hit
    must estimate 0 — the sparse grid's absent rows are zero counters,
    not missing answers (fixed inputs: with 8 occupied cells in a
    65536-wide grid the probe's 4 cells are deterministically empty)."""
    df = spark.createDataFrame([("alpha",), ("beta",)], "tok: string")
    cms = sketches.cms_table(df, "tok", depth=4, width=65536)
    probes = spark.createDataFrame(
        [("alpha",), ("never-seen-key",)], "tok: string"
    )
    est = {
        r["k"]: r["cms_est"]
        for r in sketches.cms_point_estimates(
            cms, probes, "tok", depth=4, width=65536
        ).collect()
    }
    assert est["alpha"] == 1
    assert est["never-seen-key"] == 0


def test_theta_overlap_empty_side_yields_zeros(spark):
    """An empty side must produce real zeros, not NULL-poison the row:
    its kth coalesces to the full hash space (its sketch saw
    everything, so theta = the other side's kth), and with both sides
    empty theta = the space itself."""
    a = spark.range(0, 1000).select(sketches.md5_hash32("id").alias("h"))
    empty = a.filter(F.lit(False))
    row = sketches.theta_overlap(a, empty, "h", k=128).collect()[0]
    assert row["theta"] is not None and row["theta"] < (1 << 32)
    assert row["n_b"] == 0 and row["n_common"] == 0
    assert row["inter_est"] == 0 and row["jaccard_permille"] == 0
    assert row["n_a"] > 0
    row2 = sketches.theta_overlap(empty, empty, "h", k=128).collect()[0]
    assert row2["theta"] == (1 << 32)
    assert row2["n_union"] == 0 and row2["union_est"] == 0


def test_bloom_no_false_negatives(spark):
    """The Bloom guarantee: every inserted key answers maybe=True, no
    exceptions; at m=1024/k=3 with 500 keys the false-positive rate is
    ~45%, so unseen keys must show SOME positives (the filter works)
    but not all (it isn't saturated)."""
    keys = spark.range(500).select(F.col("id").cast("string").alias("h"))
    bloom = sketches.bloom_build(keys, "h", m_bits=1024, k_hashes=3)
    probes = spark.range(1000).select(F.col("id").cast("string").alias("h"))
    got = {
        r["k"]: r["maybe"]
        for r in sketches.bloom_maybe_contains(
            probes, bloom, "h", m_bits=1024, k_hashes=3
        ).collect()
    }
    assert all(got[str(i)] for i in range(500)), "false negative!"
    fps = sum(got[str(i)] for i in range(500, 1000))
    assert 0 < fps < 500



def _bcast_filescan_flags(df) -> list[bool]:
    """For every BroadcastExchange in the EXECUTED plan (AQE off so the
    tree is plain), whether its build side DIRECTLY carries a parquet
    scan's rows — i.e. a file scan with no aggregation between scan
    and broadcast.  A broadcast of an AGGREGATED frame that merely has
    a scan upstream (the batch-sized hit counts) is the healthy shape;
    a broadcast whose payload IS the table is the scale bug the bloom
    transport gate exists to prevent."""
    flags = []

    def walk(jp):
        name = jp.nodeName()
        if "BroadcastExchange" in name:
            ts = jp.treeString()
            has_scan = "Scan parquet" in ts or "FileScan" in ts
            reduced = "HashAggregate" in ts or "SortAggregate" in ts
            flags.append(has_scan and not reduced)
            return
        kids = jp.children()
        for i in range(kids.length()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return flags


def test_bloom_large_geometry_streams_not_broadcasts(spark, tmp_path):
    """r14 (VERDICT r13 #2): a position table above the broadcast gate
    must NOT ride a broadcast — the probe inverts, broadcasting the
    batch-sized probe positions and STREAMING the position-table scan,
    with verdicts identical to the forced-broadcast transport."""
    big_m = 1 << 21
    assert big_m > sketches.BLOOM_BROADCAST_MAX_BITS
    keys = spark.range(80).select(
        F.sha2(F.concat(F.lit("key-"), F.col("id").cast("string")), 256)
        .alias("dg")
    )
    path = str(tmp_path / "bloom")
    sketches.bloom_build(keys, "dg", m_bits=big_m, k_hashes=3).write.parquet(
        path
    )
    bt = spark.read.parquet(path)
    inserted = [r["dg"] for r in keys.limit(5).collect()]
    probes = spark.createDataFrame(
        [(k,) for k in inserted] + [("a genuinely novel probe key",)],
        "dg string",
    )

    # AQE off so the executed plan is a plain tree the walker can
    # traverse
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        verdict = sketches.bloom_maybe_contains(probes, bt, "dg", big_m, 3)
        got = {r["k"]: r["maybe"] for r in verdict.collect()}
        # executed plan: NO BroadcastExchange carries the parquet
        # position table — the only broadcasts are batch-sized frames
        # (probe positions, hit counts)
        assert not any(_bcast_filescan_flags(verdict)), (
            "corpus-scale bloom table must not ride a broadcast"
        )

        # lifting the gate gives identical verdicts from the opposite
        # shape: the position table IS the broadcast build side
        verdict_b = sketches.bloom_maybe_contains(
            probes, bt, "dg", big_m, 3, broadcast_max_bits=big_m
        )
        got_b = {r["k"]: r["maybe"] for r in verdict_b.collect()}
        assert got == got_b
        assert any(_bcast_filescan_flags(verdict_b))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    assert all(got[k] for k in inserted), "false negative!"

def test_sample_quantiles_full_rate_is_exact(spark):
    """rate_log2=0 samples everything, so the sketch's order statistics
    ARE the exact ones: rank ceil(q*n/1000) over 0,10,...,990."""
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    row = sketches.sample_quantiles(
        df, "k", "v", qs=(250, 500, 750), rate_log2=0
    ).collect()[0]
    assert row["n_sampled"] == 100
    assert row["q_250"] == 240 and row["q_500"] == 490 and row["q_750"] == 740


def test_sample_quantiles_accuracy_and_groups(spark):
    """1/8 hash sample of uniform 0..9999 in two groups: each group's
    sampled median lands within 10% of the true median, and the output
    carries one row per group."""
    df = spark.range(10_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("g"),
        (F.col("id") / F.lit(2)).cast("long").alias("v"),
    )
    rows = sketches.sample_quantiles(
        df, "k", "v", ["g"], qs=(500,), rate_log2=3
    ).collect()
    assert len(rows) == 2
    for r in rows:
        assert 400 < r["n_sampled"] < 900  # ~625 = 5000/8 per group
        assert abs(r["q_500"] - 2500) / 2500 < 0.10
