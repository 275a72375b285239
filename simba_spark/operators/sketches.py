"""Distributed cardinality sketches: HyperLogLog and KMV/theta.

At 100 TB an exact ``COUNT(DISTINCT key)`` shuffles every distinct key;
these sketches shuffle a bounded number of rows per group instead
(HLL: one row per non-empty register, ≤ 2^p; KMV: the k smallest
hashes) and both aggregates are combine-friendly (``max`` / ``min``
merge map-side), so the reduce step sees kilobytes per group no matter
how many rows feed it.

Unlike Spark's built-in ``approx_count_distinct`` (whose HLL++ register
layout is engine-private), these sketches are built from the engine's
md5-derived 60-bit uniform hash, so the whole estimate — registers,
harmonic mean, linear-counting branch — is reproducible bit-for-bit by
the DuckDB oracle (`hll_distinct_sql`). Determinism does not depend on
partitioning: every term in the final sum is a dyadic rational
(2^-rho), so double addition is exact and order-insensitive.

The reference has no sketch operators (its aggregation layer is
inherited Spark SQL — SURVEY.md §2.4); this module is a north-star
addition for corpus-scale analytics.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: 15 hex chars of md5 = 60 uniform bits; fits a signed 64-bit long.
_HASH_BITS = 60


def _hash60(col, seed: int):
    """md5-derived uniform 60-bit non-negative long (engine-portable)."""
    h = F.md5(F.concat(F.col(col).cast("string"), F.lit(f"#{seed}")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str, seed: int) -> str:
    """DuckDB mirror of :func:`_hash60`."""
    return f"(('0x' || substr(md5(({expr}) || '#{seed}'), 1, 15))::BIGINT)"


def _hll_alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_register_cols(col: str, seed: int, p: int):
    """The register derivation shared by every HLL form (batch sketch,
    streaming windowed sketch): returns (bucket, rho) Columns for a
    non-null key column. Single-sited so the register math can never
    drift between the batch and streaming operators."""
    w = _HASH_BITS - p
    h = _hash60(col, seed)
    bucket = F.shiftright(h, w)
    rem = h.bitwiseAND(F.lit((1 << w) - 1))
    # rho = leading zeros of the w-bit remainder + 1; bin() drops
    # leading zeros so bitlength = length(bin(rem)) for rem > 0
    rho = F.when(rem == 0, F.lit(w + 1)).otherwise(
        F.lit(w + 1) - F.length(F.bin(rem))
    )
    return bucket, rho


def hll_sketch(
    df: DataFrame,
    col: str,
    group_by: Optional[Sequence[str]] = None,
    p: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Build per-group HLL register rows ``(groups…, __hll_b,
    __hll_m)`` — the MERGEABLE form of the sketch. Persist these (≤ 2^p
    rows per group) instead of raw keys and later :func:`hll_merge`
    arbitrary unions of them: the pre-aggregate-then-merge workflow
    (daily sketches → monthly estimate) that makes distinct counting
    feasible over rolling windows at 100 TB. Register max() is
    idempotent/commutative, so merged estimates are IDENTICAL to
    sketching the unioned raw data — asserted in tests.
    """
    assert 4 <= p <= 18, "p (register address bits) must be in [4, 18]"
    groups = list(group_by or [])
    bucket, rho = hll_register_cols(col, seed, p)
    return (
        # NULL keys are excluded, matching COUNT(DISTINCT) semantics
        # (an unfiltered null would flow through md5 as a null register
        # and silently perturb V/S in the estimate)
        df.filter(F.col(col).isNotNull())
        .select(*groups, bucket.alias("__hll_b"), rho.alias("__hll_r"))
        .groupBy(*groups, "__hll_b")
        .agg(F.max("__hll_r").alias("__hll_m"))
    )


def hll_merge(
    sketches: Sequence[DataFrame],
    group_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Merge HLL sketches (register-row DataFrames from
    :func:`hll_sketch`, same p/seed) by per-register max — the lossless
    HLL union.

    CONTRACT: all inputs must share p and seed — register rows carry
    neither, so a mismatched merge cannot be detected here. A sketch
    built with larger p than later estimated is caught at
    :func:`hll_estimate` time (bucket-overflow guard); a smaller-p or
    different-seed mix is silently wrong, so persist p/seed alongside
    saved sketches (see tests/test_sketches_graph.py round-trip)."""
    if not sketches:
        raise ValueError(
            "hll_merge: empty sketch list (e.g. a date range matching "
            "zero persisted sketch partitions) — nothing to merge"
        )
    groups = list(group_by or [])
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy(*groups, "__hll_b").agg(
        F.max("__hll_m").alias("__hll_m")
    )


def hll_estimate(
    sketch: DataFrame,
    group_by: Optional[Sequence[str]] = None,
    p: int = 12,
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Distinct-count estimate from register rows: harmonic mean over
    2^p registers with the classic linear-counting small-range
    correction (the ``ln`` there is the only non-exact float step; the
    sums are dyadic-exact, so partitioning can never move the
    estimate)."""
    m = 1 << p
    groups = list(group_by or [])
    per_group = sketch.groupBy(*groups).agg(
        # ungrouped agg over an EMPTY sketch still emits one row with
        # sum=NULL/count=0 — coalesce so the estimate is 0 (matching
        # COUNT(DISTINCT) on empty input), not NULL
        F.coalesce(F.sum(F.pow(F.lit(2.0), -F.col("__hll_m"))),
                   F.lit(0.0)).alias("__hll_s"),
        F.count(F.lit(1)).alias("__hll_c"),
        F.max("__hll_b").alias("__hll_bmax"),
    )
    alpha = _hll_alpha(m)
    v_zero = F.lit(m) - F.col("__hll_c")  # empty registers
    s_all = F.col("__hll_s") + v_zero.cast("double")  # empty => 2^0 = 1
    e_raw = F.lit(alpha * m * m) / s_all
    est = F.when(F.col("__hll_c") == 0, F.lit(0.0)).when(
        (e_raw <= F.lit(2.5 * m)) & (v_zero > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v_zero.cast("double")),
    ).otherwise(e_raw)
    # p-mismatch guard: a sketch built with p' > p has bucket ids up to
    # 2^p' - 1; estimating/merging it under p would silently be wrong
    # (register rows carry no p of their own). Bucket overflow is the
    # observable symptom — fail loudly instead. (p' < p mismatches are
    # undetectable from registers alone; hll_merge documents the
    # same-p/seed contract.)
    est = F.when(
        F.col("__hll_bmax") >= F.lit(m),
        F.raise_error(F.lit(
            f"hll_estimate: register bucket >= 2^p={m} — sketch was "
            "built with a larger p than the estimate was asked for"
        )),
    ).otherwise(est)
    return per_group.select(*groups, est.alias(out_col))


def hll_rolling(
    sketch: DataFrame,
    bucket_col: str,
    trailing: int,
    p: int = 12,
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Rolling-window distinct estimates from per-bucket mergeable HLL
    sketches: for each integer bucket t present in ``sketch`` (a
    :func:`hll_sketch` output grouped by ``bucket_col``), the estimate
    over the union of buckets (t-trailing+1 .. t] — trailing-7-day
    distinct users from daily sketches without re-reading raw data.

    Scale: NO range join — each register row explodes to the
    ``trailing`` window-ends it feeds (sequence + explode, a bounded
    ×trailing fanout of ALREADY-reduced rows, ≤ 2^p per bucket), then
    one (window-end, bucket) max groupBy; windows ending at a bucket
    with no rows of its own still see their predecessors, and
    window-ends past the data (no bucket of their own) are dropped by
    one skinny semi-join. Estimates are bit-identical to merging the
    raw buckets (register max is idempotent/commutative).
    """
    if int(trailing) < 1:
        raise ValueError("hll_rolling: trailing must be >= 1")
    contrib = (
        sketch.withColumn(
            "__hll_t",
            F.explode(F.sequence(
                F.col(bucket_col).cast("long"),
                F.col(bucket_col).cast("long") + int(trailing) - 1)))
        .groupBy("__hll_t", "__hll_b")
        .agg(F.max("__hll_m").alias("__hll_m"))
    )
    ends = sketch.select(
        F.col(bucket_col).cast("long").alias("__hll_t")).distinct()
    merged = contrib.join(ends, on="__hll_t", how="left_semi")
    return hll_estimate(
        merged, group_by=["__hll_t"], p=p, out_col=out_col,
    ).withColumnRenamed("__hll_t", bucket_col)


def hll_rolling_sql(
    sketch_sql: str,
    bucket_col: str,
    trailing: int,
    p: int = 12,
    out_col: str = "approx_distinct",
) -> str:
    """DuckDB mirror of :func:`hll_rolling` — same explode-to-window-
    ends program over a :func:`hll_sketch_sql` subquery, bit-for-bit."""
    t = int(trailing)
    contrib = f"""
  SELECT __hll_t, __hll_b, max(__hll_m) AS __hll_m FROM (
    SELECT unnest(generate_series(CAST({bucket_col} AS BIGINT),
                                  CAST({bucket_col} AS BIGINT) + {t - 1}))
               AS __hll_t,
           __hll_b, __hll_m
    FROM ({sketch_sql})
  )
  WHERE __hll_t IN (SELECT DISTINCT CAST({bucket_col} AS BIGINT)
                    FROM ({sketch_sql}))
  GROUP BY __hll_t, __hll_b
"""
    est = hll_estimate_sql(contrib, ["__hll_t"], p=p, out_col=out_col)
    return (f"SELECT __hll_t AS {bucket_col}, {out_col} "
            f"FROM ({est})")


def hll_distinct(
    df: DataFrame,
    col: str,
    group_by: Optional[Sequence[str]] = None,
    p: int = 12,
    seed: int = 42,
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate (~1.04/sqrt(2^p)
    relative error; p=12 → ~1.6%) = :func:`hll_estimate` ∘
    :func:`hll_sketch`.

    Plan shape: one skinny groupBy on (group, bucket) with a map-side
    ``max`` partial (a partition contributes at most 2^p rows per group
    downstream, however many rows it holds), then a per-group rollup of
    the ≤ 2^p registers.
    """
    return hll_estimate(
        hll_sketch(df, col, group_by=group_by, p=p, seed=seed),
        group_by=group_by, p=p, out_col=out_col,
    )


def hll_sketch_sql(
    from_sql: str,
    col_expr: str,
    group_exprs: Optional[Sequence[str]] = None,
    p: int = 12,
    seed: int = 42,
) -> str:
    """DuckDB SELECT producing the register rows of :func:`hll_sketch`."""
    w = _HASH_BITS - p
    groups = list(group_exprs or [])
    gsel = "".join(f"{g}, " for g in groups)
    gby = ", ".join(groups + ["__hll_b"])
    h = hash60_sql(col_expr, seed)
    return f"""
  SELECT {gsel} __hll_b, max(__hll_r) AS __hll_m FROM (
    SELECT {gsel}
           ({h} >> {w}) AS __hll_b,
           CASE WHEN ({h} & {(1 << w) - 1}) = 0 THEN {w + 1}
                ELSE {w + 1} - length(bin({h} & {(1 << w) - 1})) END AS __hll_r
    FROM {from_sql} WHERE ({col_expr}) IS NOT NULL
  ) GROUP BY {gby}
"""


def hll_estimate_sql(
    sketch_sql: str,
    group_exprs: Optional[Sequence[str]] = None,
    p: int = 12,
    out_col: str = "approx_distinct",
) -> str:
    """DuckDB SELECT turning register rows (a :func:`hll_sketch_sql`
    subquery, possibly max-merged across several) into the estimate of
    :func:`hll_estimate` — bit-for-bit."""
    m = 1 << p
    groups = list(group_exprs or [])
    gsel = "".join(f"{g}, " for g in groups)
    gby = ", ".join(groups)
    alpha = _hll_alpha(m)
    return f"""
  SELECT {gsel}
         CASE WHEN __hll_c = 0 THEN 0.0::DOUBLE
              WHEN ({alpha * m * m!r} / (__hll_s + CAST({m} - __hll_c AS DOUBLE)))
                   <= {2.5 * m!r}
               AND ({m} - __hll_c) > 0
              THEN {float(m)!r} * ln({float(m)!r} / CAST({m} - __hll_c AS DOUBLE))
              ELSE {alpha * m * m!r} / (__hll_s + CAST({m} - __hll_c AS DOUBLE))
         END AS {out_col}
  FROM (
    SELECT {gsel} coalesce(sum(power(2.0, -__hll_m)), 0.0::DOUBLE) AS __hll_s,
           count(*) AS __hll_c
    FROM ({sketch_sql}) {('GROUP BY ' + gby) if groups else ''}
  )
"""


def hll_distinct_sql(
    from_sql: str,
    col_expr: str,
    group_exprs: Optional[Sequence[str]] = None,
    p: int = 12,
    seed: int = 42,
    out_col: str = "approx_distinct",
) -> str:
    """DuckDB SQL reproducing :func:`hll_distinct` bit-for-bit.

    ``from_sql`` is a table/subquery (without the SELECT), e.g.
    ``"events"``; ``group_exprs`` are column names preserved in the
    output.
    """
    return hll_estimate_sql(
        hll_sketch_sql(from_sql, col_expr, group_exprs, p=p, seed=seed),
        group_exprs, p=p, out_col=out_col,
    )


def kmv_theta(
    df_a: DataFrame,
    df_b: DataFrame,
    col_a: str,
    col_b: Optional[str] = None,
    k: int = 1024,
    seed: int = 42,
) -> DataFrame:
    """Theta-sketch set cardinalities via KMV (k minimum values).

    Returns ONE row: ``est_a, est_b, est_union, est_intersect,
    n_sample, theta`` — distinct-count estimates for A, B, A∪B, A∩B.
    The k smallest hashes of the union form a uniform sample of the
    distinct universe; every estimate is a scaled count over that
    sample (the standard theta-sketch composition), so intersections
    of arbitrarily large sets cost two skinny distincts + a top-k.

    When the union has fewer than k distinct keys the sample IS the
    universe and all four estimates are exact counts.

    Plan shape: per side one distinct on the 60-bit hash (skinny,
    uniform, skew-free), a global ``orderBy(h).limit(k)`` (distributed
    partial top-k — never a single-partition sort), two broadcast-sized
    membership joins, one 1-row aggregate.
    """
    col_b = col_b or col_a
    # NULL keys excluded (COUNT(DISTINCT) semantics; a null hash row
    # would also break the membership joins, which never match null)
    ha = (
        df_a.filter(F.col(col_a).isNotNull())
        .select(_hash60(col_a, seed).alias("__h")).distinct()
    )
    hb = (
        df_b.filter(F.col(col_b).isNotNull())
        .select(_hash60(col_b, seed).alias("__h")).distinct()
    )
    sample = ha.union(hb).distinct().orderBy("__h").limit(k)
    flagged = (
        sample.join(ha.withColumn("__in_a", F.lit(1)), "__h", "left")
        .join(hb.withColumn("__in_b", F.lit(1)), "__h", "left")
        .select(
            "__h",
            F.coalesce("__in_a", F.lit(0)).alias("__in_a"),
            F.coalesce("__in_b", F.lit(0)).alias("__in_b"),
        )
    )
    agg = flagged.agg(
        F.count(F.lit(1)).alias("__n"),
        F.max("__h").alias("__hk"),
        F.sum("__in_a").alias("__na"),
        F.sum("__in_b").alias("__nb"),
        F.sum(F.col("__in_a") * F.col("__in_b")).alias("__nab"),
    )
    # theta = normalized kth smallest hash in [0, 1)
    theta = F.col("__hk").cast("double") / F.lit(float(1 << _HASH_BITS))
    exact = F.col("__n") < F.lit(k)
    est_union = F.when(exact, F.col("__n").cast("double")).otherwise(
        F.lit(float(k - 1)) / theta
    )
    def scaled(cnt):
        return F.when(exact, F.col(cnt).cast("double")).otherwise(
            F.col(cnt).cast("double") / F.col("__n").cast("double") * est_union
        )
    return agg.select(
        scaled("__na").alias("est_a"),
        scaled("__nb").alias("est_b"),
        est_union.alias("est_union"),
        scaled("__nab").alias("est_intersect"),
        F.col("__n").alias("n_sample"),
        theta.alias("theta"),
    )


def kmv_theta_sql(
    from_a: str,
    from_b: str,
    col_a: str,
    col_b: Optional[str] = None,
    k: int = 1024,
    seed: int = 42,
) -> str:
    """DuckDB SQL reproducing :func:`kmv_theta` bit-for-bit."""
    col_b = col_b or col_a
    ha = hash60_sql(col_a, seed)
    hb = hash60_sql(col_b, seed)
    denom = float(1 << _HASH_BITS)
    return f"""
WITH __ha AS (SELECT DISTINCT {ha} AS __h FROM {from_a}
              WHERE ({col_a}) IS NOT NULL),
__hb AS (SELECT DISTINCT {hb} AS __h FROM {from_b}
         WHERE ({col_b}) IS NOT NULL),
__sample AS (
  SELECT __h FROM (SELECT __h FROM __ha UNION SELECT __h FROM __hb)
  ORDER BY __h LIMIT {k}
),
__flag AS (
  SELECT s.__h,
         CASE WHEN a.__h IS NULL THEN 0 ELSE 1 END AS __in_a,
         CASE WHEN b.__h IS NULL THEN 0 ELSE 1 END AS __in_b
  FROM __sample s
  LEFT JOIN __ha a ON s.__h = a.__h
  LEFT JOIN __hb b ON s.__h = b.__h
),
__agg AS (
  SELECT count(*) AS __n, max(__h) AS __hk,
         sum(__in_a) AS __na, sum(__in_b) AS __nb,
         sum(__in_a * __in_b) AS __nab
  FROM __flag
)
SELECT
  CASE WHEN __n < {k} THEN CAST(__na AS DOUBLE)
       ELSE CAST(__na AS DOUBLE) / CAST(__n AS DOUBLE)
            * ({float(k - 1)!r} / (CAST(__hk AS DOUBLE) / {denom!r})) END AS est_a,
  CASE WHEN __n < {k} THEN CAST(__nb AS DOUBLE)
       ELSE CAST(__nb AS DOUBLE) / CAST(__n AS DOUBLE)
            * ({float(k - 1)!r} / (CAST(__hk AS DOUBLE) / {denom!r})) END AS est_b,
  CASE WHEN __n < {k} THEN CAST(__n AS DOUBLE)
       ELSE {float(k - 1)!r} / (CAST(__hk AS DOUBLE) / {denom!r}) END AS est_union,
  CASE WHEN __n < {k} THEN CAST(__nab AS DOUBLE)
       ELSE CAST(__nab AS DOUBLE) / CAST(__n AS DOUBLE)
            * ({float(k - 1)!r} / (CAST(__hk AS DOUBLE) / {denom!r})) END AS est_intersect,
  __n AS n_sample,
  CAST(__hk AS DOUBLE) / {denom!r} AS theta
FROM __agg
"""


# ---------------------------------------------------------------------------
# Mergeable quantile sketch (bottom-k uniform row sample)


def quantile_sketch(
    df: DataFrame,
    col: str,
    id_col: str,
    group_by: Optional[Sequence[str]] = None,
    k: int = 1024,
    seed: int = 42,
) -> DataFrame:
    """Per-group mergeable quantile sketch: the k rows with the smallest
    md5-derived 60-bit hash of the UNIQUE ``id_col`` — a deterministic
    uniform sample of the group's rows. Rows are ``(groups…, __qs_h,
    __qs_v)``.

    Why bottom-k (KMV-style) rather than GK/t-digest: bottom-k is the
    only common quantile summary whose merge is exactly associative AND
    engine-portable — ``merge = bottom-k of the unioned sketch rows``,
    so merging daily sketches gives the IDENTICAL sketch (hence
    identical estimates) as sketching the unioned raw data, asserted in
    tests, and the whole thing is reproducible bit-for-bit by the
    DuckDB oracle (:func:`quantile_sketch_sql`). Rank error is the
    uniform-sample bound ~ sqrt(q(1-q)/k) (k=1024 → ~1.5% at the
    median); the exact ``percentile`` agg cannot pre-aggregate at all,
    which is the 100 TB problem this solves.

    Plan shape: Spark rewrites the rank-filtered window into
    WindowGroupLimit (partial per-partition top-k BEFORE the exchange —
    plan-asserted in tests), so a partition contributes at most k
    skinny (group, 8 B, 8 B) rows to the shuffle however many rows it
    holds — the same map-side-combine property as the HLL register
    rows above.

    NULL and NaN values are excluded (they have no quantile position);
    NULL ids are excluded with them (a null hash cannot be ordered).
    """
    assert k >= 2
    groups = list(group_by or [])
    x = F.col(col).cast("double")
    sel = (
        df.filter(
            x.isNotNull() & ~F.isnan(x) & F.col(id_col).isNotNull()
        )
        .select(
            *groups,
            _hash60(id_col, seed).alias("__qs_h"),
            x.alias("__qs_v"),
        )
    )
    w = Window.partitionBy(*groups).orderBy("__qs_h", "__qs_v")
    return (
        sel.withColumn("__qs_r", F.row_number().over(w))
        .filter(F.col("__qs_r") <= k)
        .drop("__qs_r")
    )


def quantile_merge(
    sketches: Sequence[DataFrame],
    group_by: Optional[Sequence[str]] = None,
    k: int = 1024,
) -> DataFrame:
    """Merge quantile sketches (same id_col/seed/k): bottom-k of the
    unioned sketch rows. Exactly the sketch of the unioned raw data
    (bottom-k is associative), so estimates after any merge tree are
    identical — the daily-sketch → monthly-quantile workflow."""
    if not sketches:
        raise ValueError("quantile_merge: empty sketch list")
    groups = list(group_by or [])
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    w = Window.partitionBy(*groups).orderBy("__qs_h", "__qs_v")
    return (
        merged.withColumn("__qs_r", F.row_number().over(w))
        .filter(F.col("__qs_r") <= k)
        .drop("__qs_r")
    )


def quantile_estimate(
    sketch: DataFrame,
    qs: Sequence[float] = (0.5,),
    group_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Quantile estimates from sketch rows: percentile_cont-style
    linear interpolation over the SORTED sample values, computed with
    explicit array arithmetic (identical IEEE expression tree in the
    DuckDB mirror — no reliance on either engine's percentile
    builtin). Output column for q is its promille: ``q500``/``q990``/
    ``q999``. The per-group collect_list is bounded by the sketch
    parameter k.

    An EMPTY ungrouped sketch (empty input, or an all-null/NaN value
    column) yields NULL estimates — matching the SQL mirror, where
    DuckDB's out-of-range list index is NULL; a naive element_at(0)
    here would raise INVALID_INDEX_OF_ZERO instead. Empty groups are
    simply absent (grouped aggregation emits no row for them) in both
    engines."""
    names = [_q_name(q) for q in qs]
    assert len(set(names)) == len(names), (
        f"quantile_estimate: qs {list(qs)} collide on promille column "
        f"names {names} — qs must be distinct on a 1/1000 grid"
    )
    groups = list(group_by or [])
    per = sketch.groupBy(*groups).agg(
        F.sort_array(F.collect_list("__qs_v")).alias("__vals"),
        F.count(F.lit(1)).alias("__n"),
    )
    outs = []
    for q in qs:
        pos = F.lit(float(q)) * (F.col("__n") - 1).cast("double")
        lo = F.floor(pos)
        frac = pos - lo.cast("double")
        vlo = F.element_at("__vals", (lo + 1).cast("int"))
        vhi = F.element_at(
            "__vals", F.least(lo + 2, F.col("__n")).cast("int")
        )
        est = F.when(F.col("__n") == 0, F.lit(None).cast("double")).otherwise(
            vlo + frac * (vhi - vlo)
        )
        outs.append(est.alias(_q_name(q)))
    return per.select(*groups, *outs)


def _q_name(q: float) -> str:
    """Promille column name: 0.5 → q500, 0.99 → q990, 1.0 → q1000 —
    unambiguous for any q on a 1/1000 grid (fraction-digit naming
    would collide 0.1 with 1.0)."""
    return f"q{int(round(float(q) * 1000))}"


def quantile_digest(
    df: DataFrame,
    col: str,
    id_col: str,
    qs: Sequence[float] = (0.5,),
    group_by: Optional[Sequence[str]] = None,
    k: int = 1024,
    seed: int = 42,
) -> DataFrame:
    """:func:`quantile_estimate` ∘ :func:`quantile_sketch` — one-shot
    per-group quantiles with bounded shuffle."""
    return quantile_estimate(
        quantile_sketch(df, col, id_col, group_by=group_by, k=k, seed=seed),
        qs=qs, group_by=group_by,
    )


def quantile_sketch_sql(
    from_sql: str,
    col_expr: str,
    id_expr: str,
    group_exprs: Optional[Sequence[str]] = None,
    k: int = 1024,
    seed: int = 42,
) -> str:
    """DuckDB SELECT producing the rows of :func:`quantile_sketch`."""
    groups = list(group_exprs or [])
    gsel = "".join(f"{g}, " for g in groups)
    pby = ("PARTITION BY " + ", ".join(groups)) if groups else ""
    h = hash60_sql(id_expr, seed)
    return f"""
  SELECT {gsel} __qs_h, __qs_v FROM (
    SELECT {gsel} __qs_h, __qs_v,
           row_number() OVER ({pby} ORDER BY __qs_h, __qs_v) AS __qs_r
    FROM (
      SELECT {gsel} {h} AS __qs_h, CAST({col_expr} AS DOUBLE) AS __qs_v
      FROM {from_sql}
      WHERE ({col_expr}) IS NOT NULL
        AND NOT isnan(CAST({col_expr} AS DOUBLE))
        AND ({id_expr}) IS NOT NULL
    )
  ) WHERE __qs_r <= {k}
"""


def quantile_merge_sql(
    sketch_sqls: Sequence[str],
    group_exprs: Optional[Sequence[str]] = None,
    k: int = 1024,
) -> str:
    """DuckDB mirror of :func:`quantile_merge` over sketch subqueries."""
    groups = list(group_exprs or [])
    gsel = "".join(f"{g}, " for g in groups)
    pby = ("PARTITION BY " + ", ".join(groups)) if groups else ""
    union = " UNION ALL ".join(f"SELECT * FROM ({s})" for s in sketch_sqls)
    return f"""
  SELECT {gsel} __qs_h, __qs_v FROM (
    SELECT {gsel} __qs_h, __qs_v,
           row_number() OVER ({pby} ORDER BY __qs_h, __qs_v) AS __qs_r
    FROM ({union})
  ) WHERE __qs_r <= {k}
"""


def quantile_estimate_sql(
    sketch_sql: str,
    qs: Sequence[float] = (0.5,),
    group_exprs: Optional[Sequence[str]] = None,
) -> str:
    """DuckDB mirror of :func:`quantile_estimate` — identical sorted
    array + interpolation arithmetic (DuckDB lists are 1-based like
    Spark ``element_at``; an empty ungrouped sketch indexes a NULL
    list → NULL estimates, matching the operator's empty-input
    guard)."""
    names = [_q_name(q) for q in qs]
    assert len(set(names)) == len(names), (
        f"quantile_estimate_sql: qs {list(qs)} collide on promille "
        f"column names {names}"
    )
    groups = list(group_exprs or [])
    gsel = "".join(f"{g}, " for g in groups)
    gby = ("GROUP BY " + ", ".join(groups)) if groups else ""
    outs = []
    for q in qs:
        pos = f"({float(q)!r}::DOUBLE * CAST(__n - 1 AS DOUBLE))"
        lo = f"CAST(floor({pos}) AS BIGINT)"
        frac = f"({pos} - CAST({lo} AS DOUBLE))"
        vlo = f"__vals[CAST({lo} + 1 AS INT)]"
        vhi = f"__vals[CAST(least({lo} + 2, __n) AS INT)]"
        outs.append(f"({vlo} + {frac} * ({vhi} - {vlo})) AS {_q_name(q)}")
    sel = ",\n         ".join(outs)
    return f"""
  SELECT {gsel}
         {sel}
  FROM (
    SELECT {gsel} list_sort(list(__qs_v)) AS __vals, count(*) AS __n
    FROM ({sketch_sql}) {gby}
  )
"""


# ---------------------------------------------------------------------------
# Mergeable theta sketch (persisted KMV set-operation workflow)
#
# ``kmv_theta`` above is the one-shot two-set composite; these are the
# PERSISTED form — build per-group bottom-k hash rows once (e.g. per
# day), later merge/union/intersect arbitrary combinations without
# touching raw data. All set estimates are computed at the common
# threshold theta = min(per-side thetas), the standard theta-sketch
# composition: each retained hash set is a uniform sample of its
# distinct universe below theta, so |sample ∩/∪| / theta estimates the
# true set-op cardinality. Sides with fewer than k distinct keys are
# EXACT (theta = 1).

#: exclusive hash threshold for an exact (n < k) sketch: every 60-bit
#: hash is below it, i.e. theta = 1.0.
_THETA_MAX = 1 << _HASH_BITS


def theta_sketch(
    df: DataFrame,
    col: str,
    group_by: Optional[Sequence[str]] = None,
    k: int = 1024,
    seed: int = 42,
) -> DataFrame:
    """Per-group mergeable theta sketch: the k smallest DISTINCT
    md5-derived 60-bit hashes of ``col`` — rows ``(groups…, __th_h)``.

    Persist these (≤ k 8-byte rows per group) instead of raw keys;
    :func:`theta_merge` unions them losslessly and
    :func:`theta_intersect` estimates A∩B / A∪B / A-only / B-only
    between two persisted sketches — the daily-sketch → "how many users
    were active in BOTH weeks" workflow that exact distinct counting
    cannot pre-aggregate at 100 TB.

    Plan shape: one skinny per-group distinct on the hash, then a
    rank-filtered window Spark rewrites to WindowGroupLimit (partial
    per-partition top-k before the exchange) — at most k rows per group
    cross the wire from any partition. NULL keys are excluded
    (COUNT(DISTINCT) semantics).
    """
    assert k >= 2
    groups = list(group_by or [])
    sel = (
        df.filter(F.col(col).isNotNull())
        .select(*groups, _hash60(col, seed).alias("__th_h"))
        .distinct()
    )
    w = Window.partitionBy(*groups).orderBy("__th_h")
    return (
        sel.withColumn("__th_r", F.row_number().over(w))
        .filter(F.col("__th_r") <= k)
        .drop("__th_r")
    )


def theta_merge(
    sketches: Sequence[DataFrame],
    group_by: Optional[Sequence[str]] = None,
    k: int = 1024,
) -> DataFrame:
    """Union-merge theta sketches (same col-domain/seed/k): bottom-k of
    the distinct unioned hash rows — IDENTICAL to sketching the unioned
    raw data (bottom-k-of-distinct is associative), so any merge tree
    yields the same estimates. Asserted in tests."""
    if not sketches:
        raise ValueError("theta_merge: empty sketch list")
    groups = list(group_by or [])
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    merged = merged.distinct()
    w = Window.partitionBy(*groups).orderBy("__th_h")
    return (
        merged.withColumn("__th_r", F.row_number().over(w))
        .filter(F.col("__th_r") <= k)
        .drop("__th_r")
    )


def theta_estimate(
    sketch: DataFrame,
    group_by: Optional[Sequence[str]] = None,
    k: int = 1024,
) -> DataFrame:
    """Distinct-count estimate per group from sketch rows:
    exact count when n < k, else (k-1)/theta. Columns
    ``(groups…, est_distinct)``."""
    groups = list(group_by or [])
    agg = sketch.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("__n"), F.max("__th_h").alias("__hk")
    )
    theta = F.col("__hk").cast("double") / F.lit(float(_THETA_MAX))
    est = F.when(F.col("__n") < k, F.col("__n").cast("double")).otherwise(
        F.lit(float(k - 1)) / theta
    )
    return agg.select(*groups, est.alias("est_distinct"))


def theta_intersect(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
    group_by: Optional[Sequence[str]] = None,
    k: int = 1024,
) -> DataFrame:
    """Per-group set-operation estimates between two persisted theta
    sketches (same col-domain/seed/k): columns ``(groups…, est_a,
    est_b, est_union, est_intersect, n_union_sample, theta)``.

    All four estimates are counts over the common subsample
    ``hash < min(thr_a, thr_b)`` scaled by 1/theta — mutually
    consistent (est_a + est_b = est_union + est_intersect holds
    exactly), and EXACT when both sides hold fewer than k keys. Groups
    are matched null-safely; a group present in only one sketch emits
    no row (there is nothing to intersect against).

    Plan shape: two skinny per-group aggregates, one full-outer hash
    join on (groups, hash), one filtered aggregate — no raw data, no
    blowup beyond the ≤ 2k sketch rows per group.
    """
    groups = list(group_by or [])
    # disjoint internal names per side: the two sketches routinely
    # derive from the SAME base frame (two date slices of one table),
    # so joining on shared attribute names trips Spark's ambiguous
    # self-join analysis — rename before any join
    a = sketch_a.select(
        *[F.col(g).alias(f"__ga_{i}") for i, g in enumerate(groups)],
        F.col("__th_h").alias("__ha"), F.lit(1).alias("__in_a"),
    )
    b = sketch_b.select(
        *[F.col(g).alias(f"__gb_{i}") for i, g in enumerate(groups)],
        F.col("__th_h").alias("__hb"), F.lit(1).alias("__in_b"),
    )
    ga = [f"__ga_{i}" for i in range(len(groups))]
    gb = [f"__gb_{i}" for i in range(len(groups))]

    def _thr(side: DataFrame, gcols, h, name):
        return side.groupBy(*gcols).agg(
            F.when(F.count(F.lit(1)) < k, F.lit(_THETA_MAX).cast("long"))
            .otherwise(F.max(h)).alias(name)
        )

    thr_a = _thr(a, ga, "__ha", "__thr_a")
    thr_b = _thr(b, gb, "__hb", "__thr_b")
    cond = None
    for ca, cb in zip(ga + ["__ha"], gb + ["__hb"]):
        eq = F.col(ca).eqNullSafe(F.col(cb))
        cond = eq if cond is None else (cond & eq)
    both = a.join(b, cond, "full_outer").select(
        *[
            F.coalesce(F.col(ca), F.col(cb)).alias(f"__g_{i}")
            for i, (ca, cb) in enumerate(zip(ga, gb))
        ],
        F.coalesce("__ha", "__hb").alias("__th_h"),
        F.coalesce("__in_a", F.lit(0)).alias("__in_a"),
        F.coalesce("__in_b", F.lit(0)).alias("__in_b"),
    )
    gk = [f"__g_{i}" for i in range(len(groups))]
    if groups:
        tcond = None
        for ca, cb in zip(ga, gb):
            eq = F.col(ca).eqNullSafe(F.col(cb))
            tcond = eq if tcond is None else (tcond & eq)
        thr = thr_a.join(thr_b, tcond, "inner")
    else:
        thr = thr_a.crossJoin(thr_b)
    thr = thr.select(
        *[F.col(ca).alias(f"__tg_{i}") for i, ca in enumerate(ga)],
        F.least("__thr_a", "__thr_b").alias("__th_thr"),
    )
    tg = [f"__tg_{i}" for i in range(len(groups))]
    if groups:
        jcond = None
        for cg, ct in zip(gk, tg):
            eq = F.col(cg).eqNullSafe(F.col(ct))
            jcond = eq if jcond is None else (jcond & eq)
        joined = both.join(thr, jcond, "inner").drop(*tg)
    else:
        joined = both.crossJoin(thr)
    joined = joined.filter(F.col("__th_h") < F.col("__th_thr"))
    agg = joined.groupBy(*gk).agg(
        F.count(F.lit(1)).alias("__nu"),
        F.sum("__in_a").alias("__na"),
        F.sum("__in_b").alias("__nb"),
        F.sum(F.col("__in_a") * F.col("__in_b")).alias("__nab"),
        F.max("__th_thr").alias("__thr"),
    )
    theta = F.col("__thr").cast("double") / F.lit(float(_THETA_MAX))
    def scaled(c):
        return F.col(c).cast("double") / theta
    return agg.select(
        *[F.col(cg).alias(g) for cg, g in zip(gk, groups)],
        scaled("__na").alias("est_a"),
        scaled("__nb").alias("est_b"),
        scaled("__nu").alias("est_union"),
        scaled("__nab").alias("est_intersect"),
        F.col("__nu").alias("n_union_sample"),
        theta.alias("theta"),
    )


def theta_rolling(
    sketch: DataFrame,
    bucket_col: str,
    trailing: int,
    k: int = 1024,
    out_col: str = "est_distinct",
) -> DataFrame:
    """Rolling-window distinct estimates from per-bucket mergeable
    THETA sketches — the exact-below-k counterpart of
    :func:`hll_rolling` (same explode-to-window-ends program): for
    each integer bucket t present, the theta estimate over the union
    of buckets (t-trailing+1 .. t].

    Scale: bounded ×trailing fanout of ≤ k already-reduced hash rows
    per bucket, one distinct (the union dedup — theta_merge
    semantics), one rank-filtered window Spark rewrites to
    WindowGroupLimit (≤ k rows per window-end cross the wire), one
    skinny estimate aggregate; window-ends with no bucket of their own
    drop via a semi-join. Merged estimates are IDENTICAL to sketching
    the unioned raw buckets (bottom-k-of-distinct-union is exactly
    associative)."""
    if int(trailing) < 1:
        raise ValueError("theta_rolling: trailing must be >= 1")
    contrib = (
        sketch.withColumn(
            "__th_t",
            F.explode(F.sequence(
                F.col(bucket_col).cast("long"),
                F.col(bucket_col).cast("long") + int(trailing) - 1)))
        .select("__th_t", "__th_h")
        .distinct()
    )
    ends = sketch.select(
        F.col(bucket_col).cast("long").alias("__th_t")).distinct()
    merged = contrib.join(ends, on="__th_t", how="left_semi")
    w = Window.partitionBy("__th_t").orderBy("__th_h")
    bk = (
        merged.withColumn("__th_r", F.row_number().over(w))
        .filter(F.col("__th_r") <= int(k))
        .drop("__th_r")
    )
    return theta_estimate(bk, ["__th_t"], k=k) \
        .withColumnRenamed("__th_t", bucket_col) \
        .withColumnRenamed("est_distinct", out_col)


def theta_rolling_sql(
    sketch_sql: str,
    bucket_col: str,
    trailing: int,
    k: int = 1024,
    out_col: str = "est_distinct",
) -> str:
    """DuckDB mirror of :func:`theta_rolling`, bit-for-bit (count/theta
    with theta a dyadic rational)."""
    t = int(trailing)
    return f"""
SELECT __th_t AS {bucket_col},
       CASE WHEN __n < {int(k)} THEN CAST(__n AS DOUBLE)
            ELSE {float(int(k) - 1)!r}
                 / (CAST(__hk AS DOUBLE) / {float(_THETA_MAX)!r})
       END AS {out_col}
FROM (
  SELECT __th_t, count(*) AS __n, max(__th_h) AS __hk FROM (
    SELECT __th_t, __th_h FROM (
      SELECT *, row_number() OVER (PARTITION BY __th_t
                                   ORDER BY __th_h) AS __th_r
      FROM (
        SELECT DISTINCT __th_t, __th_h FROM (
          SELECT unnest(generate_series(CAST({bucket_col} AS BIGINT),
                        CAST({bucket_col} AS BIGINT) + {t - 1}))
                     AS __th_t,
                 __th_h
          FROM ({sketch_sql})
        )
        WHERE __th_t IN (SELECT DISTINCT CAST({bucket_col} AS BIGINT)
                         FROM ({sketch_sql}))
      )
    ) WHERE __th_r <= {int(k)}
  ) GROUP BY __th_t
)
"""


def theta_sketch_sql(
    from_sql: str,
    col_expr: str,
    group_exprs: Optional[Sequence[str]] = None,
    k: int = 1024,
    seed: int = 42,
) -> str:
    """DuckDB mirror of :func:`theta_sketch` (bit-identical rows)."""
    groups = list(group_exprs or [])
    gsel = "".join(f"{g}, " for g in groups)
    part = ("PARTITION BY " + ", ".join(groups)) if groups else ""
    h = hash60_sql(col_expr, seed)
    return f"""
  SELECT {gsel} __th_h FROM (
    SELECT {gsel} __th_h,
           row_number() OVER ({part} ORDER BY __th_h) AS __th_r
    FROM (SELECT DISTINCT {gsel} {h} AS __th_h FROM ({from_sql})
          WHERE ({col_expr}) IS NOT NULL)
  ) WHERE __th_r <= {k}
"""


def theta_intersect_sql(
    sketch_a_sql: str,
    sketch_b_sql: str,
    group_exprs: Optional[Sequence[str]] = None,
    k: int = 1024,
) -> str:
    """DuckDB mirror of :func:`theta_intersect` — identical threshold /
    subsample / scaling arithmetic (every estimate is count/theta with
    theta a dyadic rational, so doubles agree bit-for-bit)."""
    groups = list(group_exprs or [])
    gsel = "".join(f"{g}, " for g in groups)
    gby = ("GROUP BY " + ", ".join(groups)) if groups else ""
    on_g = " AND ".join(
        f"a.{g} IS NOT DISTINCT FROM b.{g}" for g in groups
    )
    on_h = "a.__th_h IS NOT DISTINCT FROM b.__th_h"
    on = f"{on_g} AND {on_h}" if groups else on_h
    ta_tb_on = (
        " AND ".join(f"ta.{g} IS NOT DISTINCT FROM tb.{g}" for g in groups)
        if groups else "1 = 1"
    )
    u_t_on = (
        " AND ".join(f"u.{g} IS NOT DISTINCT FROM t.{g}" for g in groups)
        if groups else "1 = 1"
    )
    co_g = "".join(f"coalesce(a.{g}, b.{g}) AS {g}, " for g in groups)
    ta_sel = "".join(f"ta.{g}, " for g in groups)
    u_sel = "".join(f"u.{g}, " for g in groups)
    u_gby = (
        "GROUP BY " + ", ".join(f"u.{g}" for g in groups) if groups else ""
    )
    denom = float(_THETA_MAX)
    theta = f"(CAST(__thr AS DOUBLE) / {denom!r})"
    return f"""
WITH __ska AS ({sketch_a_sql}),
__skb AS ({sketch_b_sql}),
__ta AS (SELECT {gsel} CASE WHEN count(*) < {k} THEN {_THETA_MAX}
         ELSE max(__th_h) END AS __thr_a FROM __ska {gby}),
__tb AS (SELECT {gsel} CASE WHEN count(*) < {k} THEN {_THETA_MAX}
         ELSE max(__th_h) END AS __thr_b FROM __skb {gby}),
__thr AS (
  SELECT {ta_sel} least(ta.__thr_a, tb.__thr_b) AS __th_thr
  FROM __ta ta JOIN __tb tb ON {ta_tb_on}
),
__union AS (
  SELECT {co_g} coalesce(a.__th_h, b.__th_h) AS __th_h,
         CASE WHEN a.__th_h IS NULL THEN 0 ELSE 1 END AS __in_a,
         CASE WHEN b.__th_h IS NULL THEN 0 ELSE 1 END AS __in_b
  FROM __ska a FULL OUTER JOIN __skb b ON {on}
),
__agg AS (
  SELECT {u_sel} count(*) AS __nu, sum(__in_a) AS __na,
         sum(__in_b) AS __nb, sum(__in_a * __in_b) AS __nab,
         max(t.__th_thr) AS __thr
  FROM __union u JOIN __thr t ON {u_t_on}
  WHERE u.__th_h < t.__th_thr
  {u_gby}
)
SELECT {gsel}
  CAST(__na AS DOUBLE) / {theta} AS est_a,
  CAST(__nb AS DOUBLE) / {theta} AS est_b,
  CAST(__nu AS DOUBLE) / {theta} AS est_union,
  CAST(__nab AS DOUBLE) / {theta} AS est_intersect,
  __nu AS n_union_sample,
  {theta} AS theta
FROM __agg
"""


# ---------------------------------------------------------------------------
# Count-Min sketch (mergeable approximate frequencies)


def cm_sketch(
    df: DataFrame,
    col: str,
    group_by: Optional[Sequence[str]] = None,
    depth: int = 4,
    width: int = 1024,
    seed: int = 42,
) -> DataFrame:
    """Per-group Count-Min sketch rows ``(groups…, __cm_d, __cm_b,
    __cm_n)``: for each of `depth` seeded hash rows, the count of items
    landing in each of `width` buckets. ≤ depth·width rows per group
    leave ANY partition (count partials combine map-side), however many
    rows feed it — the bounded-memory complement to the exact
    :func:`~simba_spark.operators.stats.heavy_hitters` when the
    distinct-value universe itself is too wide to shuffle.

    Estimates (:func:`cm_estimate`) are min-over-depths bucket counts:
    never under the true count, over by at most ~2n/width with
    probability 1 - 2^-depth (the classic CM guarantee). All counts
    are integers, so sketches and estimates are EXACTLY reproducible
    by the DuckDB mirror (no float summation order to worry about).

    Merge (:func:`cm_merge`) is per-cell addition — exactly
    associative, so daily sketches sum losslessly into monthly ones.
    NULL items are excluded (COUNT(col) semantics).
    """
    assert depth >= 1 and width >= 2
    from ..functions import parallelize_small

    groups = list(group_by or [])
    buckets = F.array(*[
        F.pmod(_hash60(col, seed + j), F.lit(int(width)))
        for j in range(int(depth))
    ])
    # project to the needed columns FIRST, then size-guarded round-robin
    # (round-11 opt): the depth md5 hashes per row are compute-dense,
    # and a small input otherwise runs them at its scan's 1-3 split
    # parallelism; the pre-projection keeps the guarded exchange to
    # (groups, col) bytes only
    base = parallelize_small(
        df.filter(F.col(col).isNotNull()).select(*(groups + [col])))
    return (
        base
        .select(*groups, F.posexplode(buckets).alias("__cm_d", "__cm_b"))
        .groupBy(*groups, "__cm_d", "__cm_b")
        .agg(F.count(F.lit(1)).alias("__cm_n"))
    )


def cm_merge(
    sketches: Sequence[DataFrame],
    group_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Merge CM sketches (same depth/width/seed) by per-cell sum — the
    lossless CM union (estimating a merged sketch == estimating the
    sketch of the unioned raw data, asserted in tests)."""
    if not sketches:
        raise ValueError("cm_merge: empty sketch list")
    groups = list(group_by or [])
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy(*groups, "__cm_d", "__cm_b").agg(
        F.sum("__cm_n").alias("__cm_n")
    )


def cm_estimate(
    sketch: DataFrame,
    items: DataFrame,
    item_col: str,
    group_by: Optional[Sequence[str]] = None,
    depth: int = 4,
    width: int = 1024,
    seed: int = 42,
    out_col: str = "est_n",
) -> DataFrame:
    """Estimated counts for every row of `items` (a DataFrame — the
    probe stays fully distributed, no driver collect): min over depths
    of the item's bucket count, 0 when a bucket is empty. depth/width/
    seed must match the sketch build. Join cost: |items|·depth skinny
    rows against ≤ depth·width sketch rows per group (broadcastable
    by construction)."""
    groups = list(group_by or [])
    probes = items.select(
        *groups, F.col(item_col),
        F.posexplode(F.array(*[
            F.pmod(_hash60(item_col, seed + j), F.lit(int(width)))
            for j in range(int(depth))
        ])).alias("__cm_d", "__cm_b"),
    )
    joined = probes.join(
        F.broadcast(sketch), on=groups + ["__cm_d", "__cm_b"], how="left"
    )
    return joined.groupBy(*groups, item_col).agg(
        F.min(F.coalesce(F.col("__cm_n"), F.lit(0))).alias(out_col)
    )


def cm_sketch_sql(
    from_sql: str,
    col_expr: str,
    group_exprs: Optional[Sequence[str]] = None,
    depth: int = 4,
    width: int = 1024,
    seed: int = 42,
) -> str:
    """DuckDB SELECT producing the rows of :func:`cm_sketch` exactly."""
    groups = list(group_exprs or [])
    gsel = "".join(f"{g}, " for g in groups)
    gby = ", ".join(groups + ["__cm_d", "__cm_b"])
    arms = " UNION ALL ".join(
        f"SELECT {gsel} {j} AS __cm_d, "
        f"({hash60_sql(col_expr, seed + j)}) % {int(width)} AS __cm_b "
        f"FROM {from_sql} WHERE ({col_expr}) IS NOT NULL"
        for j in range(int(depth))
    )
    return f"""
  SELECT {gsel} __cm_d, __cm_b, count(*)::BIGINT AS __cm_n
  FROM ({arms}) GROUP BY {gby}
"""


def cm_estimate_sql(
    sketch_sql: str,
    items_sql: str,
    item_expr: str,
    group_exprs: Optional[Sequence[str]] = None,
    depth: int = 4,
    width: int = 1024,
    seed: int = 42,
    out_col: str = "est_n",
) -> str:
    """DuckDB mirror of :func:`cm_estimate` (items from a subquery)."""
    groups = list(group_exprs or [])
    gsel = "".join(f"{g}, " for g in groups)
    on = " AND ".join(
        [f"p.{g} = s.{g}" for g in groups]
        + ["p.__cm_d = s.__cm_d", "p.__cm_b = s.__cm_b"]
    )
    pg = "".join(f"p.{g}, " for g in groups)
    gby = ", ".join([f"p.{g}" for g in groups] + [f"p.{item_expr}"])
    arms = " UNION ALL ".join(
        f"SELECT {gsel} {item_expr}, {j} AS __cm_d, "
        f"({hash60_sql(item_expr, seed + j)}) % {int(width)} AS __cm_b "
        f"FROM ({items_sql})"
        for j in range(int(depth))
    )
    return f"""
  SELECT {pg} p.{item_expr}, min(COALESCE(s.__cm_n, 0))::BIGINT AS {out_col}
  FROM ({arms}) p
  LEFT JOIN ({sketch_sql}) s ON {on}
  GROUP BY {gby}
"""


# ---------------------------------------------------------------------------
# Bucketed quantile sample (the streaming-aggregable form)


def quantile_bucket_cols(col: str, id_col: str, k: int, seed: int):
    """The bucketed-sample derivation shared by the batch operator and
    the streaming windowed op (single-sited like hll_register_cols so
    the two can never drift): returns (filter, bucket, hv) where hv is
    a (h, v) struct whose per-bucket MIN is the retained sample row."""
    x = F.col(col).cast("double")
    h = _hash60(id_col, seed)
    keep = x.isNotNull() & ~F.isnan(x) & F.col(id_col).isNotNull()
    return keep, F.pmod(h, F.lit(int(k))).alias("__qs_k"), F.struct(
        h.alias("h"), x.alias("v")
    ).alias("__hv")


def quantile_sketch_bucketed(
    df: DataFrame,
    col: str,
    id_col: str,
    group_by: Optional[Sequence[str]] = None,
    k: int = 1024,
    seed: int = 42,
) -> DataFrame:
    """Bucketed quantile sample: rows hash into k buckets on the unique
    ``id_col``; each bucket retains its min-hash row — one-permutation-
    hashing-style sampling. The retained row is uniform within its
    bucket (hashes are iid, independent of v), so the ≤ k values form a
    valid uniform sample for :func:`quantile_estimate`; when a group
    has n < k rows the sample holds all but the ~n²/2k birthday-collided
    rows (e.g. ≳ 95% of them at n = k/3) — near-exact, not exact, unlike
    bottom-k which retains every row at n ≤ k.

    Why this form exists next to :func:`quantile_sketch` (exact
    bottom-k): the aggregate here is an algebraic per-bucket MIN —
    combine-friendly AND streaming-state-friendly (k structs per open
    (window, key), see ``streaming_windowed_quantile``), where the
    rank-filtered bottom-k window cannot run incrementally. Batch
    pipelines that can afford the window should prefer bottom-k (its
    merge is exactly lossless); this form trades that for
    incrementality. Merge (:func:`quantile_merge_bucketed`) is
    per-bucket min — associative, merged ≡ sketch-of-union, asserted.
    Rows: ``(groups…, __qs_k, __qs_h, __qs_v)``.
    """
    assert k >= 2
    groups = list(group_by or [])
    keep, bucket, hv = quantile_bucket_cols(col, id_col, k, seed)
    return (
        df.filter(keep)
        .select(*groups, bucket, hv)
        .groupBy(*groups, "__qs_k")
        .agg(F.min("__hv").alias("__hv"))
        .select(*groups, "__qs_k",
                F.col("__hv.h").alias("__qs_h"),
                F.col("__hv.v").alias("__qs_v"))
    )


def quantile_merge_bucketed(
    sketches: Sequence[DataFrame],
    group_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Merge bucketed quantile samples (same id_col/k/seed): per-bucket
    min of the (h, v) pairs — exactly the sketch of the unioned rows."""
    if not sketches:
        raise ValueError("quantile_merge_bucketed: empty sketch list")
    groups = list(group_by or [])
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    return (
        merged.groupBy(*groups, "__qs_k")
        .agg(F.min(F.struct(F.col("__qs_h").alias("h"),
                            F.col("__qs_v").alias("v"))).alias("__hv"))
        .select(*groups, "__qs_k",
                F.col("__hv.h").alias("__qs_h"),
                F.col("__hv.v").alias("__qs_v"))
    )


def quantile_sketch_bucketed_sql(
    from_sql: str,
    col_expr: str,
    id_expr: str,
    group_exprs: Optional[Sequence[str]] = None,
    k: int = 1024,
    seed: int = 42,
) -> str:
    """DuckDB mirror of :func:`quantile_sketch_bucketed` (struct MIN
    orders lexicographically on (h, v) in both engines)."""
    groups = list(group_exprs or [])
    gsel = "".join(f"{g}, " for g in groups)
    gby = ", ".join(groups + ["__qs_k"])
    h = hash60_sql(id_expr, seed)
    return f"""
  SELECT {gsel} __qs_k,
         struct_extract(__hv, 'h') AS __qs_h,
         struct_extract(__hv, 'v') AS __qs_v
  FROM (
    SELECT {gsel} __qs_k, min({{'h': __h, 'v': __v}}) AS __hv
    FROM (
      SELECT {gsel} ({h}) % {int(k)} AS __qs_k, {h} AS __h,
             CAST({col_expr} AS DOUBLE) AS __v
      FROM {from_sql}
      WHERE ({col_expr}) IS NOT NULL
        AND NOT isnan(CAST({col_expr} AS DOUBLE))
        AND ({id_expr}) IS NOT NULL
    ) GROUP BY {gby}
  )
"""


def cm_join_size(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
    group_by: Optional[Sequence[str]] = None,
    out_col: str = "est_join_rows",
) -> DataFrame:
    """Equi-join output-size estimate from two CM sketches (same
    depth/width/seed, built on the respective join keys): the classic
    CM inner product — min over depths of Σ_b a[d,b]·b[d,b]. Never
    underestimates the true Σ_key cnt_a·cnt_b; overestimate bounded by
    ~|A||B|/width per depth w.h.p. The planning primitive for choosing
    broadcast vs shuffle vs salting BEFORE paying for the join: two
    bounded sketches instead of a per-key count of either side.

    Plan: one equi-join of two ≤ depth·width-row frames + a skinny
    min-of-sums aggregate. All-integer, exactly SQL-reproducible."""
    groups = list(group_by or [])
    a = sketch_a.select(*groups, "__cm_d", "__cm_b",
                        F.col("__cm_n").alias("__na"))
    b = sketch_b.select(*groups, "__cm_d", "__cm_b",
                        F.col("__cm_n").alias("__nb"))
    per_depth = (
        a.join(b, on=groups + ["__cm_d", "__cm_b"])
        .groupBy(*groups, "__cm_d")
        .agg(F.sum(F.col("__na") * F.col("__nb")).alias("__ip"))
    )
    return per_depth.groupBy(*groups).agg(F.min("__ip").alias(out_col))
