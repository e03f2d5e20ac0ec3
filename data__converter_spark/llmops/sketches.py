"""Mergeable sketches — the cardinality/frequency primitives a 100 TB
pipeline runs where exact answers would need a full shuffle of the key
space: HyperLogLog distinct counts, KMV (k-minimum-values) distinct and
theta-sketch set overlap, and count-min frequency estimates.

Reference parity: the reference app reports exact row/distinct counts
on browser-sized tables (SURVEY.md §2 A4); these operators are the
scale path for the same questions — est-distinct per group, cross-split
leakage rate, heavy-key frequency — when the key space itself no longer
fits a single aggregation.

Every sketch here is DETERMINISTIC and engine-portable: the hash is the
repo-standard first-32-bits-of-md5 (DuckDB spells it
``CAST(('0x'||substr(md5(s),1,8)) AS BIGINT)``), and every estimate is
integer arithmetic (``div``), so the DuckDB oracle checks values
exactly — not rows-only. The HLL bias constant alpha_256 is carried as
the exact rational 923264/1285395 (= 0.7213/(1+1.079/256)) so the
estimator never touches a float.

Scale shapes (the reason these exist):
- HLL: one ``groupBy(grp, register)`` max + one ``groupBy(grp)`` sum —
  state is m=256 small integers per group, mergeable with ``max`` (used
  by :func:`hll_merge` for the cross-group union row). At 100 TB the
  register frame is the ONLY thing that moves between stages.
- KMV/theta: per-side distinct + ``TakeOrderedAndProject(k)`` — the
  sketch is k int64s; set algebra (union/intersection/Jaccard) happens
  on the ≤k-row samples, never on the corpora.
- CMS: the sketch is a depth×width integer grid built by one
  ``groupBy``; point queries are a broadcast join against the grid.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- HyperLogLog (Flajolet et al. 2007), fixed b=8 -> m=256 registers.
# 32-bit md5 hash: top 8 bits pick the register, low 24 bits feed the
# leading-zero rank rho in [1, 25] (rho=25 when the 24-bit word is 0).
HLL_B = 8
HLL_M = 1 << HLL_B            # 256 registers
HLL_W_BITS = 24               # rank-word width
HLL_W_SPACE = 1 << HLL_W_BITS
# alpha_256 = 0.7213 / (1 + 1.079/256) as an exact fraction.
HLL_ALPHA_NUM = 923_264
HLL_ALPHA_DEN = 1_285_395
# Fixed-point scale for the harmonic sum: S = sum(2^(UNIT_BITS - rho))
# with rho in [1, 25] for present registers and rho = 0 (contribution
# 2^UNIT_BITS) for empty ones. UNIT_BITS = 25 keeps every term an exact
# int64 (min term 2^0 = 1 at rho = 25); S <= 256 * 2^25 = 2^33.
# est = alpha*m^2 / sum(2^-rho) = ALPHA_NUM*m^2*2^25 div (ALPHA_DEN*S).
HLL_UNIT_BITS = HLL_W_BITS + 1
HLL_EST_NUM = HLL_ALPHA_NUM * HLL_M * HLL_M * (1 << HLL_UNIT_BITS)  # < 2^62
# Small-range regime marker (linear counting territory): est <= 2.5*m.
HLL_SMALL_RANGE = 5 * HLL_M // 2


def md5_hash32(c: str | Column) -> Column:
    """First 32 bits of md5 of the stringified key — the repo-standard
    engine-portable hash (cf. dedup._md5_32_col, which further reduces
    mod 2^31-1 for MinHash permutations; sketches keep the full 32-bit
    space so estimates use the natural 2^32 scale)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")


def hll_registers(
    df: DataFrame, key_col: str | Column, group_cols: list[str] | None = None
) -> DataFrame:
    """(group_cols..., idx, rho): the HLL register frame — max
    leading-zero rank per register per group. THIS is the sketch: m=256
    rows of two small ints per group, mergeable with ``max(rho)``
    across any partitioning of the input (used for cross-group union
    and, on a cluster, cross-day / cross-shard rollups).
    """
    group_cols = group_cols or []
    h = md5_hash32(key_col)
    idx = (h / F.lit(HLL_W_SPACE)).cast("long").alias("idx")  # top 8 bits
    w = (h % F.lit(HLL_W_SPACE)).alias("w")
    # rho = leading zeros of the 24-bit word + 1 = 25 - bitlength(w);
    # bin() never pads, so length(bin(w)) is the exact bit length.
    rho = (
        F.when(w == 0, F.lit(HLL_W_BITS + 1))
        .otherwise(F.lit(HLL_W_BITS + 1) - F.length(F.bin(w)))
        .alias("rho")
    )
    return (
        df.select(*group_cols, idx, rho)
        .groupBy(*group_cols, "idx")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(reg: DataFrame, drop_cols: list[str]) -> DataFrame:
    """Merge register frames across ``drop_cols`` groups (sketch union:
    per-register ``max``). Registers are tiny — this is a constant-size
    aggregation regardless of corpus size."""
    keep = [c for c in reg.columns if c not in set(drop_cols) | {"idx", "rho"}]
    return reg.groupBy(*keep, "idx").agg(F.max("rho").alias("rho"))


def hll_estimate(reg: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Register frame -> (group_cols..., est_distinct, v_zero, s_denom,
    small_range). Integer-exact: S = sum over all m registers of
    2^(25-rho) in 2^-25 units (absent registers contribute rho=0 ->
    2^25 each), est = alpha*m^2*2^25 div S carried as int64 ``div``.
    ``small_range`` marks the linear-counting regime (raw estimate
    biased high; kept raw here so the estimator stays float-free — the
    flag is the caller's cue, and the oracle checks the same formula).
    """
    group_cols = group_cols or []
    unit = F.expr(f"CAST(power(2, {HLL_UNIT_BITS} - rho) AS BIGINT)")
    agg = reg.groupBy(*group_cols).agg(
        F.sum(unit).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    s_denom = (
        F.col("s_present")
        + (F.lit(HLL_M) - F.col("n_present")) * F.lit(1 << HLL_UNIT_BITS)
    ).alias("s_denom")
    out = agg.select(*group_cols, s_denom, (F.lit(HLL_M) - F.col("n_present")).alias("v_zero"))
    est = F.expr(f"{HLL_EST_NUM} div ({HLL_ALPHA_DEN} * s_denom)").alias("est_distinct")
    return out.select(
        *group_cols,
        est,
        "v_zero",
        "s_denom",
        (est <= F.lit(HLL_SMALL_RANGE)).alias("small_range"),
    )


def kmv_sketch(hashes: DataFrame, hash_col: str = "h", k: int = 128) -> DataFrame:
    """k smallest DISTINCT hash values — the KMV sketch, via
    ``distinct -> orderBy -> limit(k)`` which Spark executes as
    TakeOrderedAndProject (per-partition top-k + driver merge of k-row
    heads; no global SORT, though the ``distinct`` does pay one
    hash-exchange of the distinct hash space — combiner-heavy, since
    the map-side partial aggregate dedupes before the shuffle).
    Output: (h) with <= k rows."""
    return hashes.select(F.col(hash_col).alias("h")).distinct().orderBy("h").limit(k)


def kmv_estimate(
    hashes: DataFrame, hash_col: str = "h", k: int = 128, space: int = 1 << 32
) -> DataFrame:
    """One row: (k_used, kth_hash, est_distinct, exhausted). The KMV
    estimator est = (k-1) * space div kth — unbiased for distinct
    counts >> k. When fewer than k distinct hashes exist the sample IS
    the key set: est = exact count, exhausted = true.
    """
    sk = kmv_sketch(hashes, hash_col, k)
    agg = sk.agg(
        F.count(F.lit(1)).alias("k_used"), F.max("h").alias("kth_hash")
    )
    exhausted = F.col("k_used") < F.lit(k)
    return agg.select(
        "k_used",
        "kth_hash",
        F.when(exhausted, F.col("k_used"))
        .otherwise(F.expr(f"{(k - 1) * space}L div kth_hash"))
        .cast("long")
        .alias("est_distinct"),
        exhausted.alias("exhausted"),
    )


def theta_overlap(
    hashes_a: DataFrame,
    hashes_b: DataFrame,
    hash_col: str = "h",
    k: int = 128,
    space: int = 1 << 32,
) -> DataFrame:
    """Theta-sketch set overlap of two corpora from their hash columns:
    one row (theta, n_a, n_b, n_common, n_union, union_est, inter_est,
    jaccard_permille).

    theta = min of the two kth-smallest hashes; every distinct hash
    below theta is a fixed-rate sample of each side, so
    ``|intersection| ~= n_common * space/theta`` without ever joining
    the corpora — the joins here touch <= k rows per side. This is the
    scale path for cross-corpus contamination/leakage RATE estimation
    (the exact companion is dedup.dedup_against's signature join).
    """
    ka = kmv_sketch(hashes_a, hash_col, k).agg(F.max("h").alias("kth"))
    kb = kmv_sketch(hashes_b, hash_col, k).agg(F.max("h").alias("kth"))
    # An EMPTY side has kth = NULL; its sketch saw everything, so its
    # theta contribution is the full hash space (sample rate 1) — the
    # coalesce keeps every downstream column a real zero instead of
    # NULL-poisoning the whole row.
    theta = (
        ka.crossJoin(F.broadcast(kb.withColumnRenamed("kth", "kth_b")))
        .select(
            F.least(
                F.coalesce("kth", F.lit(space)),
                F.coalesce("kth_b", F.lit(space)),
            ).alias("theta")
        )
    )
    da = hashes_a.select(F.col(hash_col).alias("h")).distinct()
    db = hashes_b.select(F.col(hash_col).alias("h")).distinct()
    sa = da.crossJoin(F.broadcast(theta)).filter(F.col("h") < F.col("theta")).select("h")
    sb = db.crossJoin(F.broadcast(theta)).filter(F.col("h") < F.col("theta")).select("h")
    common = sa.join(sb, "h", "inner")
    union = sa.union(sb).distinct()
    counts = (
        theta.crossJoin(F.broadcast(sa.agg(F.count(F.lit(1)).alias("n_a"))))
        .crossJoin(F.broadcast(sb.agg(F.count(F.lit(1)).alias("n_b"))))
        .crossJoin(F.broadcast(common.agg(F.count(F.lit(1)).alias("n_common"))))
        .crossJoin(F.broadcast(union.agg(F.count(F.lit(1)).alias("n_union"))))
    )
    return counts.select(
        "theta",
        "n_a",
        "n_b",
        "n_common",
        "n_union",
        F.expr(f"n_union * {space} div theta").alias("union_est"),
        F.expr(f"n_common * {space} div theta").alias("inter_est"),
        F.when(F.col("n_union") > 0, F.expr("n_common * 1000 div n_union"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("jaccard_permille"),
    )


def _cms_bucket(seed_col: str | Column, key_col: str | Column, modulus: int) -> Column:
    """md5(seed:key) mod ``modulus`` — the shared engine-portable bucket
    hash behind the CMS grid, the Bloom positions, and the streaming
    per-window grid (DuckDB spells it
    ``CAST(('0x'||substr(md5(seed||':'||k),1,8)) AS BIGINT) % modulus``)."""
    s = F.col(seed_col) if isinstance(seed_col, str) else seed_col
    k = F.col(key_col) if isinstance(key_col, str) else key_col
    return (
        F.conv(F.substring(F.md5(F.concat_ws(":", s, k)), 1, 8), 16, 10).cast(
            "long"
        )
        % F.lit(modulus)
    )


def cms_table(
    df: DataFrame,
    key_col: str | Column,
    depth: int = 4,
    width: int = 1024,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-min sketch of a key stream: (seed, bucket, cnt) — the
    depth×width integer grid. Each occurrence row lands in one bucket
    per seed (bucket = md5(seed:key) mod width); the grid is built by a
    single ``groupBy`` whose state is depth*width counters no matter
    how large the stream. Mergeable by summing grids cell-wise.

    ``weight_col``: build from pre-aggregated (key, count) rows instead
    of raw occurrences — identical grid, but the depth-way explode runs
    over the key table rather than the stream (the batch fast path; 10×
    stress measured the raw-stream form ~4× dearer at a 1.6M-token
    corpus). Raw streams — where per-key pre-aggregation is exactly the
    state blowup CMS exists to avoid — omit it and pay the explode."""
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    seeds = F.explode(F.array(*[F.lit(s) for s in range(depth)])).alias("seed")
    w = (F.col(weight_col) if weight_col else F.lit(1)).alias("w")
    rows = df.select(c.cast("string").alias("k"), w, seeds)
    bucket = _cms_bucket("seed", "k", width).alias("bucket")
    return (
        rows.select("seed", bucket, "w")
        .groupBy("seed", "bucket")
        .agg(F.sum("w").cast("long").alias("cnt"))
    )


def cms_point_estimates(
    cms: DataFrame, probes: DataFrame, key_col: str = "k", depth: int = 4, width: int = 1024
) -> DataFrame:
    """Point-query the sketch for each probe key: (key, cms_est) with
    cms_est = min over the depth rows of the probed bucket counter —
    an overestimate-only bound (cms_est >= true count, with equality
    unless the key collides in every row). Probes are small by
    construction (heavy-hitter candidates): broadcast them into the
    grid join. The grid is SPARSE (untouched cells are absent rows), so
    the probe side left-joins and coalesces a missing cell to 0 — a
    probe key none of whose cells were ever hit estimates 0, exactly
    as a true CMS point query over a zero-initialized grid would."""
    seeds = F.explode(F.array(*[F.lit(s) for s in range(depth)])).alias("seed")
    pk = probes.select(F.col(key_col).cast("string").alias("k")).distinct()
    probe_rows = pk.select("k", seeds).select(
        "k", "seed", _cms_bucket("seed", "k", width).alias("bucket")
    )
    joined = probe_rows.join(F.broadcast(cms), ["seed", "bucket"], "left").select(
        "k", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )
    return joined.groupBy("k").agg(F.min("cnt").alias("cms_est"))


def bloom_build(
    keys: DataFrame, key_col: str = "h", m_bits: int = 16384, k_hashes: int = 3
) -> DataFrame:
    """Bloom filter of a key set as its SET-BIT POSITION table: (pos),
    at most min(m_bits, k*|keys|) distinct rows (the production
    packing into an m-bit bitset is a transport detail; the
    position-set form keeps every engine op integer-exact and the
    membership join plan-visible).

    Positions are md5(seed:key) mod m — the same engine-portable hash
    family as the CMS grid.  Position tables merge by union: a filter
    grown by appending per-batch position tables need not re-distinct
    them — :func:`bloom_maybe_contains` tolerates duplicate ``pos``
    rows."""
    seeds = F.explode(F.array(*[F.lit(s) for s in range(k_hashes)])).alias("seed")
    rows = keys.select(F.col(key_col).cast("string").alias("k"), seeds)
    return rows.select(_cms_bucket("seed", "k", m_bits).alias("pos")).distinct()


# Broadcast ceiling for the bloom position table, in BITS of geometry
# (the row count is <= min(m_bits, k*n)): below it the table rides a
# broadcast to every probe task; above it the transport INVERTS — the
# batch-sized probe positions broadcast instead and the position table
# is streamed as a plain scan.  VERDICT r13 #2: a bloom sized to
# m ~= 16n grows ~3 position rows per key, so an unconditional
# broadcast is a driver OOM at a 10^8-key set.  2^20 bits ~= 1M rows
# of one long (~8 MB raw) keeps the broadcast comfortably inside
# executor memory; every sandbox-scale filter sits far below it.
BLOOM_BROADCAST_MAX_BITS = 1 << 20


def bloom_maybe_contains(
    probes: DataFrame,
    bloom: DataFrame,
    key_col: str = "h",
    m_bits: int = 16384,
    k_hashes: int = 3,
    broadcast_max_bits: int | None = None,
) -> DataFrame:
    """(key, maybe): Bloom membership test for each distinct probe key —
    ``maybe`` is true iff ALL k positions are set. No false negatives
    ever; false-positive rate ~(1-e^{-kn/m})^k.

    Transport is SIZE-GATED on the geometry (no extra job — ``m_bits``
    bounds the position-row count):

    - ``m_bits <= broadcast_max_bits`` (default
      :data:`BLOOM_BROADCAST_MAX_BITS`): the position table broadcasts
      and the probe rows semi-join it — the right plan while the bloom
      fits a broadcast.
    - larger: the join INVERTS — the batch-sized probe positions
      broadcast and the corpus-scale position table is STREAMED as a
      plain scan feeding a broadcast hash join, so no corpus-sized
      exchange (broadcast OR shuffle) exists anywhere in the plan.
      Per-seed hits then count via ``countDistinct(seed)``, which also
      makes the probe tolerant of duplicate ``pos`` rows from
      append-only bloom maintenance.

    Both paths produce identical verdicts; only the physical transport
    differs."""
    limit = (
        BLOOM_BROADCAST_MAX_BITS
        if broadcast_max_bits is None
        else broadcast_max_bits
    )
    seeds = F.explode(F.array(*[F.lit(s) for s in range(k_hashes)])).alias("seed")
    pk = probes.select(F.col(key_col).cast("string").alias("k")).distinct()
    rows = pk.select("k", seeds).select(
        "k", "seed", _cms_bucket("seed", "k", m_bits).alias("pos")
    )
    if m_bits <= limit:
        hits = (
            rows.join(F.broadcast(bloom.select("pos")), "pos", "left_semi")
            .groupBy("k")
            .agg(F.countDistinct("seed").alias("n_set"))
        )
    else:
        hits = (
            bloom.select("pos")
            .join(F.broadcast(rows), "pos")
            .groupBy("k")
            .agg(F.countDistinct("seed").alias("n_set"))
        )
    return pk.join(hits, "k", "left").select(
        "k", (F.coalesce("n_set", F.lit(0)) == F.lit(k_hashes)).alias("maybe")
    )


def cms_inner_product(cms_a: DataFrame, cms_b: DataFrame) -> DataFrame:
    """Equi-join SIZE estimate from two count-min grids (AMS-style):
    |A ⋈_k B| = sum_k a_k*b_k is estimated per sketch row by
    sum_buckets cms_a[row]*cms_b[row], taking the min across rows —
    an overestimate-only bound (colliding keys only add cross terms).

    This is the optimizer's question — "how big is this join?" —
    answered from two depth×width grids without touching either table
    again: the grids join on (seed, bucket), at most depth*width rows a
    side, regardless of table size. Output: one row (est_size)."""
    a = cms_a.withColumnRenamed("cnt", "cnt_a")
    b = cms_b.withColumnRenamed("cnt", "cnt_b")
    per_row = (
        a.join(b, ["seed", "bucket"], "inner")
        .groupBy("seed")
        .agg(F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("ip"))
    )
    return per_row.agg(F.min("ip").cast("long").alias("est_size"))


def sample_quantiles(
    df: DataFrame,
    key_col: str | Column,
    value_col: str | Column,
    group_cols: list[str] | None = None,
    qs: tuple[int, ...] = (250, 500, 750),
    rate_log2: int = 4,
) -> DataFrame:
    """Approximate per-group quantiles from a DETERMINISTIC hash sample
    — the quantile member of the mergeable-sketch family (distinct =
    HLL/KMV, frequency = CMS, membership = Bloom, quantiles = this).

    Rows whose md5-32 of ``key_col`` falls below 2^32 / 2^rate_log2 are
    sampled (fixed rate 2^-rate_log2, the KMV/theta fixed-θ idiom); the
    requested permille quantiles are then EXACT order statistics of the
    sample — value at rank ceil(q·n/1000), ties broken by the hash so
    both engines pick the same row. Mergeable by construction: the
    union of per-shard samples at the same θ IS the sample of the
    union, so shards/days concatenate without re-scanning (unlike
    exact percentile_approx state, which is engine-private). The
    corpus-side work is one narrow filter (no shuffle); only the
    sampled ~n/2^rate_log2 rows reach the per-group window sort.

    ``value_col`` should already be integer-exact (e.g. price cents as
    bigint) so the oracle checks values, not floats. Output:
    (group_cols..., n_sampled, q_<q> per requested q). Groups with no
    sampled row are absent (the demo query outer-joins its group base).
    """
    from pyspark.sql import Window as W

    group_cols = group_cols or []
    thresh = (1 << 32) >> rate_log2
    k = F.col(key_col) if isinstance(key_col, str) else key_col
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    h = md5_hash32(k)
    sampled = df.select(
        *group_cols, v.cast("long").alias("v"), h.alias("h")
    ).filter(F.col("h") < F.lit(thresh))
    w = W.partitionBy(*group_cols).orderBy("v", "h")
    ranked = sampled.select(
        *group_cols,
        "v",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy(*group_cols)).alias("n"),
    )
    aggs = [F.max("n").cast("long").alias("n_sampled")]
    for q in qs:
        rank_q = F.greatest(
            F.lit(1), F.expr(f"(n * {q} + 999) div 1000")
        )
        aggs.append(
            F.max(F.when(F.col("rn") == rank_q, F.col("v")))
            .cast("long")
            .alias(f"q_{q}")
        )
    return ranked.groupBy(*group_cols).agg(*aggs)
