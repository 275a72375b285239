"""kNN join: for each left row, its k nearest right rows (exactly k).

Reference algorithms (SURVEY.md §2.3): CKJSpark (cartesian + top-k,
ref: CKJSpark.scala:33-61), BKJSpark/-R (block nested loop,
ref: BKJSpark.scala:37-97), RKJSpark (production: θ-bounded candidate
replication + local R-tree, ref: RKJSpark.scala:37-145), VKJSpark
(Voronoi), ZKJSpark (approximate z-order, ref: ZKJSpark.scala:36-170).
Ties are broken arbitrarily, output exactly k (``keepSame=false``).
For hash-matched determinism we order by (dist, right_id).

Our router (:func:`_theta_knn_join`, the one kNN join program for both
metrics — ``geo.geo_knn_join`` runs it with the spherical metric):

- ``cross``   (CKJSpark parity): crossJoin + window row_number <= k.
  The oracle algorithm; O(|L|·|R|) pairs.
- ``bounded`` (default; RKJSpark analog): candidate pairs from the
  metric's distance join at radius θ estimated from driver-side
  samples, then window top-k; left rows with fewer than k candidates
  (θ too small — possible since the estimate is sample-based) escalate
  through a θ×4 retry and only then a cross join bounded to the
  remaining rows (warned above `cross_warn_rows`). The union is exact —
  same no-false-dismissal guarantee as RKJSpark's θ bound
  (ref: RKJSpark.scala:105-110), enforced by verification instead of a
  worst-case bound, which keeps θ (and the shuffle volume) tight.
  A broadcast-small right side routes to the block nested loop.
- ``voronoi`` (VKJSpark analog, exact): pivot-cell partitioning with
  triangle-inequality θ bounds and lossless right-row replication —
  see :func:`_voronoi_knn_join` (ref: VKJSpark.scala:38-398).
- ``zknn``    (ZKJSpark analog, approximate, :func:`zknn_join`): per
  random shift vector, each left row pairs with its ±window_mult·k
  z-order right neighbors by global right-rank (refine='rank',
  default; size-adaptive physical plan — broadcast rank-array with
  in-row binary search on small inputs, bucketed two-phase prefix-sum
  at scale); refine='bucket' is the coarse z-prefix equi-join
  fallback when no unique right key exists. Deterministic given the
  seed. Recall grows with shifts (default 2, ref: SimbaConf.scala:120).

Scale notes: `bounded` shuffles each side once (cell equi-join) plus a
skinny window over candidates; the fallback touches only deficient left
rows. No driver collect beyond one bounded sample (≤ sample_cap rows of
the key columns only) — versus the reference's multiple driver jobs
(SURVEY §3B).
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass
from typing import Callable, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import dist2_cols
from .distance_join import _prefix_columns, distance_join


def _topk(
    pairs: DataFrame, left_id: str, k: int, dist_col, right_tiebreak: Optional[str]
) -> DataFrame:
    order = [dist_col.asc()]
    if right_tiebreak is not None:
        order.append(F.col(right_tiebreak).asc())
    w = Window.partitionBy(left_id).orderBy(*order)
    return (
        # a null distance (null key coordinates) never claims a kNN slot —
        # without this, Spark's NULLS-FIRST asc would rank nulls on top
        pairs.filter(dist_col.isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(k))
        .drop("__rn")
    )


def _cross_topk(m, lp, rp, lid, k, rtb) -> DataFrame:
    """Exact top-k over every (left, right) pair (CKJSpark). A cartesian
    inherits the (often tiny) child partitioning; spreading the left lets
    the pair stream and the per-left window parallelize."""
    pairs = _spread(lp).crossJoin(rp).withColumn(m.out, m.dist)
    return _topk(pairs, lid, k, F.col(m.out), rtb)


@dataclass(frozen=True)
class _JoinMetric:
    """One metric's share of the θ kNN join, over prefixed columns."""

    lcols: list
    rcols: list
    #: pairwise distance, and the output column it lands in
    dist: Column
    out: str
    #: (left, right, θ) -> every pair within θ, with ``out`` attached
    candidates: Callable
    #: (left sample, right sample, k, margin) -> θ; inf on an empty side
    estimate_theta: Callable
    #: left probes for the estimate
    left_sample: int
    #: no θ beyond this can widen the candidate set
    theta_max: float = math.inf


def knn_join(
    left: DataFrame,
    right: DataFrame,
    left_cols: Sequence[str],
    right_cols: Sequence[str],
    k: int,
    left_id: str = None,
    algo: Optional[str] = None,
    left_prefix: str = "l_",
    right_prefix: str = "r_",
    right_tiebreak: Optional[str] = None,
    sample_cap: int = 20000,
    seed: int = 42,
    theta_margin: float = 1.25,
    cross_warn_rows: int = 100_000,
    n_pivots: int = 32,
    broadcast_bytes: Optional[float] = None,
) -> DataFrame:
    """For each left row, exactly-k nearest right rows by L2 distance.

    `left_id` must uniquely identify left rows (window partition key);
    `right_tiebreak` must be a UNIQUE right key — it makes tie order
    deterministic AND the skinny-frame path joins the wide right
    payload back on it (a non-unique key would multiply rows).
    `broadcast_bytes` overrides the broadcast-route threshold for THIS
    call (else `simba_spark.knnjoin.broadcast_bytes` session conf, else
    8 MiB). Output columns: prefixed left ++ prefixed right ++ `dist`.
    """
    if left_id is None:
        raise ValueError("knn_join requires left_id (unique left key)")
    if len(left_cols) != len(right_cols):
        raise ValueError("knn_join: left_cols/right_cols dimension mismatch")
    k = int(k)
    if algo is None:
        # conf-driven dispatch parity (simba.join.knnJoin, ref:
        # SimbaSessionState.scala:191-227): session conf picks the
        # default program; an explicit algo= always wins
        from .distance_join import _session_algo

        algo = _session_algo(left, "simba_spark.join.knnJoin", "bounded")

    lp = _prefix_columns(left, left_prefix)
    rp = _prefix_columns(right, right_prefix)
    lid = f"{left_prefix}{left_id}"
    lcols = [f"{left_prefix}{c}" for c in left_cols]
    rcols = [f"{right_prefix}{c}" for c in right_cols]
    rtb = f"{right_prefix}{right_tiebreak}" if right_tiebreak else None
    dist = F.sqrt(dist2_cols(lcols, rcols))
    m = _JoinMetric(
        lcols, rcols, dist, "dist",
        candidates=lambda lj, rj, theta: distance_join(
            lj, rj, lcols, rcols, theta,
            algo="grid", left_prefix="", right_prefix="",
        ).withColumn("dist", dist),
        estimate_theta=_estimate_theta,
        left_sample=2000,
    )
    cap = float(broadcast_bytes) if broadcast_bytes is not None else _broadcast_cap(rp)
    return _theta_knn_join(
        "knn_join", m, lp, rp, k, lid, rtb, algo, cap,
        sample_cap, seed, theta_margin, cross_warn_rows,
        voronoi=lambda: _voronoi_knn_join(
            m, lp, rp, k, lid, rtb,
            n_pivots=n_pivots, sample_cap=sample_cap, seed=seed,
        ),
    )


def _theta_knn_join(op, m, lp, rp, k, lid, rtb, algo, cap, sample_cap, seed,
                    theta_margin, cross_warn_rows, voronoi=None):
    """The kNN join program behind ``op`` under metric ``m``, over
    prefixed frames. Routes:

    - ``cross``: every pair, window top-k (the oracle algorithm);
    - ``broadcast``, or ``bounded`` when the right side is under ``cap``
      bytes and |L|·|R| under the pair budget: block nested loop;
    - ``voronoi``, or ``bounded`` from ``simba_spark.knnjoin.
      voronoi_min_dim`` dimensions on: the ``voronoi`` callable, where
      the metric has one;
    - ``bounded`` / ``theta``: one θ-bounded candidate round
      (:func:`_bounded_round`), θ estimated from hash samples of both
      sides, then the escalation ladder for the deficient left rows.
    """
    overlap = set(lp.columns) & set(rp.columns)
    if overlap:
        raise ValueError(
            f"{op}: overlapping output columns {sorted(overlap)}"
            " — disambiguate with left_prefix/right_prefix")
    if algo == "cross":
        return _cross_topk(m, lp, rp, lid, k, rtb)
    if algo == "bounded" and _plan_bytes(rp) <= cap and _bnl_pairs_ok(lp, rp):
        # cost-based route (BKJSpark rationale): a broadcast-small right
        # side doesn't need θ machinery at all — the broadcast plan below
        # is exact, 2 jobs instead of 5, and shuffle-free on pairs.
        # BOTH gates are required: broadcast-ability bounds the memory,
        # but BNL work is |L|·|R| distance evals no matter how few bytes
        # the right side is — a 2.7 MB right side passed the bytes gate
        # at bench sf1 and the resulting 10k×150k BNL ran 300+ s where
        # the θ program takes ~15 s (SCALE.md "Measured at sf1")
        algo = "broadcast"
    if algo == "broadcast":
        # BKJSpark analog done right: repartition the LEFT by its id
        # first — BroadcastNestedLoopJoin preserves the streamed side's
        # partitioning, so the top-k window runs in place (zero pair
        # shuffle; Spark's WindowGroupLimit prunes to k per task before
        # the final sort). Per-left cost is |R| distance evals — the
        # block-nested-loop contract (ref: BKJSpark.scala:37-97).
        n = int(lp.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
        pairs = (
            lp.repartition(n, F.col(lid))
            .crossJoin(F.broadcast(rp))
            .withColumn(m.out, m.dist)
        )
        return _topk(pairs, lid, k, F.col(m.out), rtb)
    if voronoi is not None and (
        algo == "voronoi"
        or (algo == "bounded" and len(m.lcols) >= _voronoi_min_dim(lp))
    ):
        # high-dimension route: the θ grid program replicates ~2^d
        # cells per row and the z-value guard (d·bits <= 63) collapses
        # per-dimension resolution as d grows, so past d≈6 grid
        # candidate generation approaches all-pairs. The pivot-based
        # Voronoi program is dimension-agnostic (ref parity: Point is
        # N-dim, Point.scala:28-29; VKJSpark is the reference's own
        # high-d kNN-join answer).
        return voronoi()
    # 'theta' = the θ-bounded program unconditionally (no cost routing) —
    # same semantics as 'bounded', kept addressable for tests/tuning
    if algo not in ("bounded", "theta"):
        raise ValueError(f"unknown {op.replace('_', '-')} algo: {algo}")

    # --- θ estimation from driver-side samples of the key columns.
    # Sample ⊆ right ⇒ for any point p, kth-NN-dist(p, sample) >=
    # kth-NN-dist(p, right): a radius that captures k sample points
    # captures >= k real candidates *for the sampled region*. We take a
    # high quantile over a left sample and add margin; exactness never
    # depends on θ (deficient rows fall back), only performance does.
    # One TakeOrdered job per side (order by xxhash64 = deterministic
    # uniform pseudo-sample) — no count jobs, no fraction math; the two
    # independent sample jobs run concurrently (Spark schedules jobs
    # from separate threads in parallel).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        rs_f = pool.submit(_hash_sample, rp, m.rcols, sample_cap, seed)
        ls_f = pool.submit(_hash_sample, lp, m.lcols, m.left_sample, seed + 1)
        rs, ls = rs_f.result(), ls_f.result()
    theta = m.estimate_theta(ls, rs, k, theta_margin)
    if not math.isfinite(theta):
        # degenerate inputs (an empty side) — candidate generation has
        # nothing to bound; the cross path settles it
        return _cross_topk(m, lp, rp, lid, k, rtb)
    theta = min(theta, m.theta_max)

    # if a left row has >= k candidates within θ, its true kth-NN dist
    # <= θ, and the candidate join is exhaustive within θ — so the
    # windowed top-k over its candidates IS its exact answer. Rows below
    # k candidates escalate: θ×4 retry, then (rarely) a bounded cross
    # join. Same no-false-dismissal guarantee as RKJSpark's θ bound
    # (ref: RKJSpark.scala:105-141), enforced per-row.
    ok1, retry_ids = _bounded_round(m, lp, rp, theta, k, lid, rtb)
    # deficient set size check with early stop: take() short-circuits the
    # scan at small_cap+1 rows (the common cases are 0 or a handful)
    small_cap = 1024
    head = retry_ids.take(small_cap + 1)
    if len(head) == 0:
        return ok1
    if len(head) <= small_cap:
        # bounded cross join directly — |deficient|·|R| pairs with
        # |deficient| <= 1024; cheaper than spinning up a second
        # candidate round's shuffles for a handful of rows
        lp2 = lp.filter(F.col(lid).isin([r[0] for r in head]))
        return ok1.unionByName(_cross_topk(m, lp2, rp, lid, k, rtb))

    # escalation 1: widened-θ candidate round over the deficient rows
    # only. Shuffle/AQE semi-join (NOT a forced broadcast — the deficient
    # set is unbounded when θ under-samples a skewed region; AQE picks
    # broadcast iff it actually fits).
    lp_retry = lp.join(retry_ids, on=lid, how="left_semi")
    ok2, retry2_ids = _bounded_round(
        m, lp_retry, rp, min(theta * 4.0, m.theta_max), k, lid, rtb
    )
    n_retry2 = retry2_ids.count()
    result = ok1.unionByName(ok2)
    if n_retry2 == 0:
        return result

    # escalation 2: exact cross join, bounded to the doubly-deficient
    # rows. Never the default path; loudly flagged when it is large.
    if n_retry2 > cross_warn_rows:
        import warnings

        warnings.warn(
            f"{op}: {n_retry2} left rows still deficient after θ×4 "
            f"retry — falling back to a {n_retry2}×|right| cross join; "
            "consider a larger sample_cap/theta_margin",
            RuntimeWarning,
        )
    lp2 = lp.join(retry2_ids, on=lid, how="left_semi")
    return result.unionByName(_cross_topk(m, lp2, rp, lid, k, rtb))


def _voronoi_knn_join(
    m, lp, rp, k, lid, rtb, n_pivots: int, sample_cap: int, seed: int,
):
    """VKJSpark analog (ref: VKJSpark.scala:38-398): pivot-cell
    partitioning + triangle-inequality replication, re-expressed as one
    equi-join on cell id + a window top-k.

    The reference's per-point candidate scan with running θ
    (knnObjectForSinglePoint, VKJSpark.scala:139-192) is an execution
    detail inside its zipPartitions; the *pruning guarantees* live in
    two bounds, both reproduced here:

    - θ_i (left cell i's kth-NN upper bound): k-th smallest of
      {ub_i + dist(p_i, p_j) + d} over every right cell j and each of
      j's k smallest pivot distances d (ref: VKJSpark.scala:315-328).
      Any point of cell i has ≥ k right rows within θ_i.
    - replication rule: right row r (cell j, pivot dist rd) can matter
      to cell i only if rd ≥ dist(p_i, p_j) − ub_i − θ_i
      (ref: lower_bounds + right_dup, VKJSpark.scala:335-362) — the
      triangle inequality lower-bounds dist(l, r) otherwise. No false
      dismissal ⇒ the windowed top-k over replicated candidates is
      EXACT, no fallback rounds needed.

    Driver-side state: P pivots + a P×P bound matrix (P ≲ hundreds) —
    constant memory, like the reference's broadcast pivot array. Data
    path: one shuffle per side on the cell key + the skinny window,
    the same budget as the grid join. Pivot choice: greedy
    farthest-point over a hash-sample (deterministic; the reference
    scores random pivot *sets*, generatePivots VKJSpark.scala:50-67 —
    k-center greedy spreads at least as well).

    Caveat (shared with the reference): on strongly anisotropic data
    the θ bounds are loose — cells are wide along the dominant
    dimension, so replication approaches all-pairs and a dense central
    cell concentrates work. Cost degrades, exactness never does.
    `algo='bounded'` is the production default for a reason; this
    program exists for VKJSpark parity and for data where pivot cells
    are actually tight (roughly isotropic metric spaces)."""
    import numpy as np

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        ls_f = pool.submit(_hash_sample, lp, m.lcols, sample_cap, seed + 11)
        rs_f = pool.submit(_hash_sample, rp, m.rcols, sample_cap, seed + 12)
        sample = np.concatenate([ls_f.result(), rs_f.result()])
    if len(sample) == 0:
        return _cross_topk(m, lp, rp, lid, k, rtb)
    P = min(int(n_pivots), len(sample))
    # greedy farthest-point (k-center): start at the sample centroid's
    # nearest point, repeatedly add the point farthest from the chosen set
    chosen = [int(((sample - sample.mean(axis=0)) ** 2).sum(axis=1).argmin())]
    d2min = ((sample - sample[chosen[0]]) ** 2).sum(axis=1)
    for _ in range(P - 1):
        nxt = int(d2min.argmax())
        chosen.append(nxt)
        d2min = np.minimum(d2min, ((sample - sample[nxt]) ** 2).sum(axis=1))
    pivots = sample[chosen]  # (P, d)
    pp = np.sqrt(((pivots[:, None, :] - pivots[None, :, :]) ** 2).sum(axis=2))

    def with_cell_and_dist(df, cols):
        # distances via higher-order functions over a pivot-array
        # literal: a JVM-side LOOP, not P×d unrolled expressions — the
        # unrolled form blew the 64 KB codegen method limit around
        # P·d ≈ 200 (e.g. 32 pivots × 8 dims), dropping whole stages to
        # interpreted mode. Same left-fold association as before
        # (sum() and F.aggregate both fold ((0+e0)+e1)+…).
        point = F.array(*[F.col(c).cast("double") for c in cols])
        pv = F.array(
            *[F.array(*[F.lit(float(x)) for x in p]) for p in pivots]
        )
        arr = F.transform(
            pv,
            lambda p: F.sqrt(
                F.aggregate(
                    F.zip_with(p, point, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
        )
        return (
            df.withColumn("__parr", arr)
            .withColumn("__pd", F.array_min("__parr"))
            .withColumn(
                "__cell",
                (F.array_position(F.col("__parr"), F.col("__pd")) - 1).cast(
                    "int"
                ),
            )
            .drop("__parr")
        )

    # the pivot-distance pass is compute-dense (P·d lambda evals per
    # row) and the bench embeddings arrive as a one-split small-file
    # scan — spread BOTH sides first or the pass (and everything
    # downstream of it) runs on one core; the plan-time guards skip
    # the exchange at scale where scans are already many-split
    from ..functions import parallelize_small

    lc = with_cell_and_dist(parallelize_small(lp), m.lcols)
    rc = with_cell_and_dist(parallelize_small(rp), m.rcols)

    # per-cell meta in ONE job over a tagged skinny union:
    # left: ub_i = max pivot dist; right: ub_j, count, k smallest pivot
    # dists (bounded via per-cell window before the collect)
    lu = lc.select(F.lit(0).alias("__s"), "__cell", "__pd")
    ru = rc.select(F.lit(1).alias("__s"), "__cell", "__pd")
    u = lu.unionByName(ru)
    wk = Window.partitionBy("__s", "__cell").orderBy(F.col("__pd").asc())
    meta_rows = (
        u.withColumn("__rn", F.row_number().over(wk))
        .groupBy("__s", "__cell")
        .agg(
            F.max("__pd").alias("ub"),
            F.count(F.lit(1)).alias("cnt"),
            F.sort_array(
                F.collect_list(F.when(F.col("__rn") <= k, F.col("__pd")))
            ).alias("kd"),
        )
        .collect()
    )
    l_ub = {r["__cell"]: float(r["ub"]) for r in meta_rows if r["__s"] == 0}
    r_meta = {
        r["__cell"]: (float(r["ub"]), int(r["cnt"]), [float(x) for x in r["kd"]])
        for r in meta_rows
        if r["__s"] == 1
    }
    n_right = sum(m[1] for m in r_meta.values())
    if n_right == 0 or not l_ub:
        return _cross_topk(m, lp, rp, lid, k, rtb)

    eps = 1e-9
    # θ_i per left cell (ref: VKJSpark.scala:315-328); with fewer than k
    # right rows in total every pair qualifies — lb becomes -inf below
    theta = {}
    for i in l_ub:
        cand = [
            l_ub[i] + pp[i][j] + d for j, (_, _, kd) in r_meta.items() for d in kd
        ]
        cand.sort()
        theta[i] = (cand[k - 1] if len(cand) >= k else float("inf")) + eps

    # replication table: (right cell j, left cell i, lb_ij)
    # (ref: lower_bounds + right_dup, VKJSpark.scala:335-350) — a
    # BROADCAST relation, not a create_map literal: at P pivots the
    # literal map was an O(P²)-node expression tree, which hits
    # codegen/analysis limits around P≈512; a P²-row broadcast join
    # keeps the plan constant-size at any pivot count
    rep_rows = [
        (int(j), int(i), float(pp[i][j] - l_ub[i] - th - eps))
        for j in r_meta
        for i, th in theta.items()
    ]
    rep_df = lp.sparkSession.createDataFrame(
        rep_rows, "__j int, __lcell int, __lb double"
    )
    rrep = (
        rc.join(
            F.broadcast(rep_df),
            on=(F.col("__cell") == F.col("__j")) & (F.col("__pd") >= F.col("__lb")),
            how="inner",
        )
        .drop("__cell", "__pd", "__j", "__lb")
    )

    pairs = (
        lc.drop("__pd")
        .join(rrep, on=F.col("__cell") == F.col("__lcell"), how="inner")
        .drop("__cell", "__lcell")
        .withColumn(m.out, m.dist)
    )
    return _topk(pairs, lid, k, F.col(m.out), rtb)


def _bounded_round(m, lp, rp, theta, k, lid, rtb):
    """One θ-bounded candidate round: ``m.candidates`` over SKINNY
    key-only frames, per-left top-k window with a candidate count riding
    along (single shuffle on lid), then split into exact rows (>= k
    candidates) and deficient ids.

    When a unique right key (`rtb`) exists, only (id, coords) rows enter
    the candidate join and the window sort — the wide payload columns
    are fetched back by two equi-joins on the ≤ |L|·k survivors. At
    scale this is the difference between shuffling every column through
    a cell replication and shuffling 3 skinny columns (the reference's
    RKJSpark replicates full rows, RKJSpark.scala:111-135).

    The ranked candidates are localCheckpoint'ed: materialized once for
    the two consumers, lineage truncated so downstream plans stay small,
    and the blocks are freed by Spark's ContextCleaner when the result
    DataFrame is dropped — unlike a persist() that outlives the call."""
    skinny = rtb is not None
    if skinny:
        lj = lp.select(*dict.fromkeys([lid, *m.lcols]))
        rj = rp.select(*dict.fromkeys([rtb, *m.rcols]))
    else:
        lj, rj = lp, rp
    cand = m.candidates(lj, rj, theta)
    order = [F.col(m.out).asc()] + ([F.col(rtb).asc()] if rtb else [])
    w = Window.partitionBy(lid).orderBy(*order)
    wall = Window.partitionBy(lid)
    ranked = (
        cand.withColumn("__rn", F.row_number().over(w))
        .withColumn("__cnt", F.count(F.lit(1)).over(wall))
        .filter(F.col("__rn") <= int(k))
    )
    if skinny:
        ranked = ranked.select(lid, rtb, m.out, "__cnt")
    ranked = ranked.localCheckpoint(eager=True)
    ok = ranked.filter(F.col("__cnt") >= k).drop("__rn", "__cnt")
    if skinny:
        # fetch the wide rows back by id; AQE broadcasts whichever side
        # fits, and the join keys are already clustered by the window
        ok = (
            ok.join(lp, on=lid, how="inner")
            .join(rp, on=rtb, how="inner")
            .select(*lp.columns, *rp.columns, m.out)
        )
    ok_ids = ranked.filter(F.col("__cnt") >= k).select(lid).distinct()
    # one anti-join covers both deficient (< k candidates) and missing
    # (zero candidates — absent from the candidate join output entirely)
    retry_ids = lp.select(lid).join(ok_ids, on=lid, how="left_anti")
    return ok, retry_ids


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's shuffle parallelism —
    cartesian outputs inherit child partitioning, so a single-file side
    would serialize the whole pair stream through one task."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    return df.repartition(n)


def _plan_bytes(df: DataFrame) -> float:
    """Catalyst's size estimate for the relation (same statistic the
    broadcast-join planner consults); inf if the backend hides it."""
    try:
        return float(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return float("inf")


#: (session id, left semanticHash, right semanticHash, budget) → verdict.
#: Bounded; repeated kNN joins over the same frames skip the count jobs.
_BNL_GATE_CACHE: dict = {}


def _bnl_pairs_ok(lp: DataFrame, rp: DataFrame) -> bool:
    """Pair-count gate for the cost-based broadcast (BNL) route: true iff
    |L|·|R| is under `simba_spark.knnjoin.broadcast_pairs` (default 3.2e7
    — a few seconds of codegen distance evals; beyond it the θ program's
    fixed sample/grid costs win). Two count jobs, run concurrently —
    planning cost, same contract as the reference's sampling/count
    driver jobs (ref: RKJSpark.scala:44-56). Catalyst's byte statistic
    cannot substitute: it reflects COMPRESSED scan size, and row counts
    derived from it are off by the codec ratio. The verdict is cached by
    plan semantic hash, so repeated joins over the same frames pay the
    counts once."""
    try:
        budget = float(
            lp.sparkSession.conf.get("simba_spark.knnjoin.broadcast_pairs", "3.2e7")
        )
    except Exception:
        budget = 3.2e7
    try:
        key = (id(lp.sparkSession), lp.semanticHash(), rp.semanticHash(), budget)
    except Exception:
        key = None
    if key is not None and key in _BNL_GATE_CACHE:
        return _BNL_GATE_CACHE[key]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        nl_f = pool.submit(lp.count)
        nr_f = pool.submit(rp.count)
        nl, nr = nl_f.result(), nr_f.result()
    ok = float(nl) * float(nr) <= budget
    if key is not None:
        if len(_BNL_GATE_CACHE) > 256:
            _BNL_GATE_CACHE.clear()
        _BNL_GATE_CACHE[key] = ok
    return ok


def _broadcast_cap(df: DataFrame) -> float:
    """Byte threshold for routing a kNN join to the broadcast plan —
    `simba_spark.knnjoin.broadcast_bytes` if set, else 8 MiB (slightly
    under Spark's default autoBroadcastJoinThreshold; same default as
    SimbaConf's key, so routing does not shift with session history)."""
    try:
        v = df.sparkSession.conf.get("simba_spark.knnjoin.broadcast_bytes", None)
        if v is not None:
            return float(v)
    except Exception:
        pass
    return float(8 << 20)


def _voronoi_min_dim(df: DataFrame) -> int:
    """Dimension at which the 'bounded' router switches from the θ grid
    program to the pivot-based Voronoi plan —
    `simba_spark.knnjoin.voronoi_min_dim` if set, else 6."""
    try:
        v = df.sparkSession.conf.get("simba_spark.knnjoin.voronoi_min_dim", None)
        if v is not None:
            return int(v)
    except Exception:
        pass
    return 6


def _hash_sample(df: DataFrame, cols: Sequence[str], cap: int, salt: int):
    """~Uniform deterministic sample of the key columns in ONE job:
    distributed top-`cap` by xxhash64 (TakeOrderedAndProject — partial
    top-k per partition, no full count, no sort). Returns a numpy array
    (Arrow transfer — no per-row pickling)."""
    dims = [F.col(c).cast("double").alias(f"__d{i}") for i, c in enumerate(cols)]
    key = F.struct(*[F.col(c).cast("double") for c in cols])
    pdf = (
        df.select(*dims, F.xxhash64(key, F.lit(salt)).alias("__h"))
        .orderBy("__h")
        .limit(int(cap))
        .drop("__h")
        .toPandas()
    )
    return pdf.to_numpy(dtype="float64")


def _estimate_theta(left_sample, right_sample, k: int, margin: float) -> float:
    """Driver-side: high quantile of kth-NN distance from left-sample
    points to the right sample (numpy; both samples are small)."""
    import numpy as np

    if len(left_sample) == 0 or len(right_sample) == 0:
        return float("inf")
    L = np.asarray(left_sample, dtype="float64")
    R = np.asarray(right_sample, dtype="float64")
    kk = min(k, len(R))
    # pairwise squared distances via the matmul identity (float64: the
    # identity cancels catastrophically in float32 at coordinate scale
    # ~1e4), in SMALL in-place row blocks: large fresh temporaries are
    # page-fault-bound on this class of host (one 320 MB elementwise
    # pass measured 8+ s; a cold 33 MB block still cost ~6 s) — ~1 MB
    # reused blocks run the same math in milliseconds, and block size
    # caps memory at |B|·|R| doubles regardless of sample caps
    r2 = (R * R).sum(axis=1)
    qs = []
    B = max(1, (1 << 17) // max(1, len(R)))
    for i in range(0, len(L), B):
        Lb = L[i : i + B]
        d2 = Lb @ R.T
        d2 *= -2.0
        d2 += (Lb * Lb).sum(axis=1)[:, None]
        d2 += r2[None, :]
        np.maximum(d2, 0.0, out=d2)
        kth = np.partition(d2, kk - 1, axis=1)[:, kk - 1]
        qs.append(np.sqrt(kth))
    kth_dists = np.concatenate(qs)
    return float(np.quantile(kth_dists, 0.95) * margin)


# ---------------------------------------------------------------------------
# approximate z-order kNN join (ZKJSpark analog)


def zknn_join(
    left: DataFrame,
    right: DataFrame,
    left_cols: Sequence[str],
    right_cols: Sequence[str],
    k: int,
    left_id: str = None,
    shifts: int = 2,
    seed: int = 42,
    bits: int = 16,
    bucket_bits: Optional[int] = None,
    left_prefix: str = "l_",
    right_prefix: str = "r_",
    right_tiebreak: Optional[str] = None,
    refine: str = "rank",
    window_mult: int = 2,
) -> DataFrame:
    """Approximate kNN join via z-order curves with random shifts
    (ref: ZKJSpark.scala:36-170; shifts default 2, SimbaConf.scala:120).

    Both sides map onto a [0, 2^bits) integer grid with ONE isotropic
    scale factor (union bounding box, ONE tiny column-pruned aggregate
    collected to the driver — its values become literals in the z
    expressions, so no stats subtree is ever recomputed downstream) and
    are z-valued — per-dimension normalization would distort the metric
    on anisotropic data.

    ``refine='rank'`` (default, requires `right_tiebreak` as a unique
    right key — reference parity): per shift, each left row pairs with
    exactly its ``window_mult·k`` preceding and following right rows in
    z order (ref: ZKJSpark's ±k candidate windows, ZKJSpark.scala:36-170;
    the multiplier buys recall at a strictly bounded 2·window_mult·k·
    shifts candidates per left row — a dense z-region cannot blow up
    the join). The global z-rank is computed scalably:
    deterministic z-prefix buckets, per-bucket running counts, broadcast
    cumulative per-bucket offsets — never a single-partition window
    over the data.

    ``refine='bucket'`` (fallback when no unique right key is given):
    bucket both sides by coarse z-prefix and equi-join on bucket
    ∈ {b-1, b, b+1} — join-expressible but density-sensitive.

    Deterministic given `seed`. Exactness is NOT guaranteed — use
    :func:`knn_join` for exact results.

    Dimensions beyond 3: the interleaved z-value must fit a signed
    64-bit long, so ``d·bits <= 63`` — the default ``bits=16`` covers
    d ≤ 3; pass ``bits=15`` for 4-D, ``bits=12`` for 5-D, … (matching
    the reference's N-dim Point support, ref: Point.scala:28-29; grid
    resolution 2^bits per axis is still 32k cells/axis at 4-D).
    """
    assert left_id is not None, "zknn_join requires left_id"
    d = len(left_cols)
    assert d == len(right_cols)
    assert d * bits <= 63, (
        f"zknn_join: d*bits = {d}*{bits} > 63 overflows the z-value long — "
        f"pass bits<={63 // d} for {d}-D (default 16 covers d<=3)"
    )
    k = int(k)
    rng = random.Random(seed)
    scale = (1 << bits) - 1

    # bounding box over both sides — ONE tiny aggregate over a tagged
    # union of just the key columns, collected (1 row). Round 2 kept
    # this as a broadcast 1-row DataFrame crossJoined into the z
    # expressions to avoid the driver job — but every broadcast
    # exchange downstream then re-evaluated the whole stats subtree
    # (full re-scan per broadcast), which dominated wall-time. One
    # column-pruned aggregate job is the cheaper trade at every scale.
    lk = left.select(
        *[F.col(c).cast("double").alias(f"d{i}") for i, c in enumerate(left_cols)],
        F.lit(0).alias("__r"),
    )
    rk = right.select(
        *[F.col(c).cast("double").alias(f"d{i}") for i, c in enumerate(right_cols)],
        F.lit(1).alias("__r"),
    )
    stats_df = lk.unionByName(rk).agg(
        *[F.min(f"d{i}").alias(f"__mn{i}") for i in range(d)],
        *[F.max(f"d{i}").alias(f"__mx{i}") for i in range(d)],
        F.sum("__r").alias("__nr"),
        F.count(F.lit(1)).alias("__n"),
    )
    # ONE isotropic scale factor for every dimension: per-dim
    # normalization would stretch narrow dimensions, silently changing
    # the metric (z-neighbors in stretched space are not Euclidean
    # neighbors — recall collapses on anisotropic data like
    # (acctbal, nationkey)). The reference interleaves raw coordinates
    # for the same reason (ref: ZKJSpark.scala:46-54).
    spans = [
        F.when(
            F.col(f"__mx{i}") > F.col(f"__mn{i}"),
            F.col(f"__mx{i}") - F.col(f"__mn{i}"),
        ).otherwise(F.lit(1.0)).alias(f"__sp{i}")
        for i in range(d)
    ]
    stats_df = stats_df.select("*", *spans).withColumn(
        "__iso", F.lit(float(scale)) / F.greatest(*[F.col(f"__sp{i}") for i in range(d)])
    )

    lp = _prefix_columns(left, left_prefix)
    rp = _prefix_columns(right, right_prefix)
    lid = f"{left_prefix}{left_id}"
    lcols = [f"{left_prefix}{c}" for c in left_cols]
    rcols = [f"{right_prefix}{c}" for c in right_cols]
    rtb = f"{right_prefix}{right_tiebreak}" if right_tiebreak else None
    dist = F.sqrt(dist2_cols(lcols, rcols))

    # the shift is span · u with u a data-independent draw
    shift_us = [
        [0.0] * d if s == 0 else [rng.uniform(0.0, 1.0) for _ in range(d)]
        for s in range(int(shifts))
    ]

    # ONE tiny driver job; every downstream z expression is pure
    # literal arithmetic (nothing to recompute inside broadcasts)
    stats = stats_df.collect()[0]
    mins = [stats[f"__mn{i}"] for i in range(d)]
    span_vals = [float(stats[f"__sp{i}"]) for i in range(d)]
    iso = float(stats["__iso"])
    n_right = int(stats["__nr"])

    def zcol_lit(cols, us):
        from ..functions import z_value_col

        ints = [
            F.least(
                F.lit(scale),
                F.greatest(
                    F.lit(0),
                    F.round(
                        (F.col(c) + F.lit(sp * u) - F.lit(mn)) * F.lit(iso)
                    ).cast("long"),
                ),
            )
            for c, u, sp, mn in zip(cols, us, span_vals, mins)
        ]
        return z_value_col(ints, bits=bits)

    def zcol_sql(cols, us):
        # SQL-string twin of zcol_lit, value-identical: float literals
        # go through CAST('<repr>' AS DOUBLE) (exact round-trip), so
        # the curve — and the oracle hash — cannot drift
        from ..functions import z_value_sql

        def dlit(v):
            return (
                f"CAST('{float(v)!r}' AS DOUBLE)"
                if v is not None
                else "CAST('NaN' AS DOUBLE)"
            )

        ints = [
            f"least(CAST({scale} AS BIGINT), greatest(CAST(0 AS BIGINT), "
            f"CAST(round((`{c}` + {dlit(sp * u)} - {dlit(mn)}) * {dlit(iso)}) "
            "AS BIGINT)))"
            for c, u, sp, mn in zip(cols, us, span_vals, mins)
        ]
        return z_value_sql(ints, bits=bits)

    if refine == "rank" and rtb is not None:
        W = k * max(1, int(window_mult))
        # physical strategy by size (the candidate set — and therefore
        # the result — is identical): below the threshold, per-shift
        # ranks come from one global-sort window each and candidates
        # are sliced map-side out of a broadcast rank-ordered right
        # array (≈4 exchanges end-to-end); above it, single-partition
        # sorts and an all-rows broadcast would not scale and the
        # bucketed two-phase prefix-sum pipeline takes over.
        # Gate on the RIGHT side: the simple path collect_lists the
        # whole right side once per shift into single-row arrays that
        # are then broadcast — its cost is |R|·shifts·struct_width
        # bytes, independent of the left side. A row cap set via
        # `simba_spark.zknn.simple_rank_rows` is honored against |R|;
        # otherwise the cap derives from a byte budget
        # (`simba_spark.zknn.simple_rank_bytes`, default 6 MB of
        # UNSAFE-array bytes) and the actual struct width. The default
        # is a measured PERF crossover, not a memory limit: at sf1
        # (150k right rows, 16.8 MB unsafe) the simple path ran
        # 12.2 s vs the bucketed path's 4.4 s, while at 15k rows
        # (1.7 MB) simple won 2.2 s vs 3.3 s — 6 MB puts the flip
        # near the ~50k-row midpoint. Memory safety is the outer
        # bound (boxed rows are ~10× the unsafe width during the
        # single-task collect_list/array_sort — a 246 MB payload OOMed
        # an 8 GB driver), and 6 MB sits far inside it.
        try:
            cap_conf = left.sparkSession.conf.get(
                "simba_spark.zknn.simple_rank_rows", None
            )
        except Exception:
            cap_conf = None
        if cap_conf is not None:
            use_simple = n_right <= int(cap_conf)
        else:
            try:
                budget = int(
                    left.sparkSession.conf.get(
                        "simba_spark.zknn.simple_rank_bytes", str(6 << 20)
                    )
                )
            except Exception:
                budget = 6 << 20
            # per struct: 8B z + 8B rid + 8B per coord + ~24B object
            # overhead in the unsafe array representation
            struct_w = 8 * (d + 2) + 24
            use_simple = n_right * len(shift_us) * struct_w <= budget
        if use_simple:
            return _zknn_rank_simple(
                lp, rp, lid, rtb, lcols, rcols, shift_us, zcol_sql, W, k,
                n_right=n_right,
            )
        # ONE scan per side computes EVERY shift's z-value, then
        # posexplode tags the rows — instead of `shifts` separate scans
        # per side unioned downstream (same rows, same tags: tag = the
        # shift's position in shift_us)
        lz = lp.select(
            F.col(lid),
            F.posexplode(F.array(*[zcol_lit(lcols, us) for us in shift_us])).alias(
                "__tag", "__z"
            ),
        )
        rz = rp.select(
            F.col(rtb),
            F.posexplode(F.array(*[zcol_lit(rcols, us) for us in shift_us])).alias(
                "__tag", "__z"
            ),
        )
        cand_ids = _zrank_candidates_tagged(
            lz, rz, W, lid, rtb, zbits=d * bits
        )
        pairs = (
            cand_ids.join(lp, on=lid, how="inner")
            .join(rp, on=rtb, how="inner")
            .withColumn("dist", dist)
        )
        # fused dedup + top-k in ONE shuffle: a candidate pair can
        # surface under several shifts, and collect_set drops the
        # identical duplicate rows while the sort/slice takes the k
        # nearest — vs the round-2 dropDuplicates shuffle followed by a
        # row_number window shuffle. Set size per left row is bounded
        # by 2·window_mult·k·shifts, so the per-group array stays tiny.
        # Sort order (dist asc, right id asc) matches _topk's
        # row_number ordering bit-for-bit.
        other = [c for c in pairs.columns if c not in (lid, rtb, "dist")]
        packed = F.struct(
            F.col("dist"),
            F.col(rtb),
            F.struct(*[F.col(c) for c in other]).alias("__payload"),
        )
        return (
            pairs.filter(F.col("dist").isNotNull())
            .groupBy(lid)
            .agg(F.slice(F.array_sort(F.collect_set(packed)), 1, k).alias("__tk"))
            .select(lid, F.explode("__tk").alias("__tk"))
            .select(
                lid,
                *[F.col(f"__tk.__payload.{c}").alias(c) for c in other],
                F.col(f"__tk.{rtb}").alias(rtb),
                F.col("__tk.dist").alias("dist"),
            )
        )

    if bucket_bits is None:
        # choose bucket granularity from density: aim for ~8k right rows
        # per bucket so the ±1-bucket candidate window holds ≳ 24k z-order
        # neighbors per left row (ZKJSpark keeps ±k per shift — we keep a
        # whole bucket, coarser but join-expressible)
        target_buckets = max(1, n_right // max(1, 8 * k))
        bucket_bits = max(1, min(d * bits - 1, int(math.log2(target_buckets)) if target_buckets > 1 else 1))

    # bucket fallback (no unique right key): coarse z-prefix equi-join
    unions = []
    for us in shift_us:
        shift_amt = d * bits - bucket_bits
        lz = lp.withColumn("__b", F.shiftright(zcol_lit(lcols, us), shift_amt))
        rz = rp.withColumn("__b", F.shiftright(zcol_lit(rcols, us), shift_amt))
        rz = rz.withColumn("__b", F.explode(F.array(F.col("__b") - 1, F.col("__b"), F.col("__b") + 1)))
        unions.append(lz.join(rz, on="__b", how="inner").drop("__b"))

    cand = unions[0]
    for u in unions[1:]:
        cand = cand.unionByName(u)
    # a pair can appear under several shifts/buckets — dedup before top-k
    pair_key = [lid] + ([rtb] if rtb else rcols)
    cand = cand.dropDuplicates(pair_key)
    pairs = cand.withColumn("dist", dist)
    return _topk(pairs, lid, k, F.col("dist"), rtb)


def _upper_bound_sql(zs: str, target: str, iters: int) -> str:
    """#elements ≤ `target` in the SORTED long array `zs`, as a SQL
    expression: classic binary search unrolled over aggregate()'s
    sequence (the lambda binds the (lo, hi) state as a variable, so
    the expression stays O(iters) — a when-chain would re-inline the
    state exponentially). element_at is only reached under lo < hi,
    where mid ∈ [1, size] — ANSI-safe."""
    mid = "CAST(floor((acc.lo + acc.hi + 1) / 2) AS BIGINT)"
    return (
        f"aggregate(sequence(1, {iters}), "
        f"named_struct('lo', CAST(0 AS BIGINT), "
        f"'hi', CAST(coalesce(size({zs}), 0) AS BIGINT)), "
        "(acc, it) -> CASE WHEN acc.lo < acc.hi THEN "
        f"(CASE WHEN element_at({zs}, CAST({mid} AS INT)) <= {target} "
        f"THEN named_struct('lo', {mid}, 'hi', acc.hi) "
        f"ELSE named_struct('lo', acc.lo, 'hi', {mid} - 1) END) "
        "ELSE acc END, "
        "acc -> acc.lo)"
    )


def _zknn_rank_simple(
    lp, rp, lid, rtb, lcols, rcols, shift_us, zcol_sql, W, k, n_right=None
):
    """Small-input physical plan for the rank-refined z-order kNN join —
    same candidates as the bucketed pipeline (per-shift global right
    ranks, ±W windows), picked when the right side fits a broadcast
    comfortably (`simba_spark.zknn.simple_rank_rows`).

    Shape: the right side is gathered ONCE per shift into a
    rank-ordered array of (z, id, coords) structs and broadcast; each
    left row finds its per-shift rank position by in-row binary search
    over the broadcast z array (O(log |R|) per row — no mixed-union
    sort, no window), slices its ±W candidates out of the broadcast
    array, scores them in-row, merges shifts with
    array_distinct∘array_sort, and keeps the k nearest — no rank join,
    no top-k shuffle: stats job + broadcast build + one map-side pass.

    Every heavy expression here is assembled as ONE SQL string per
    column (F.expr): the per-Column formulation spent more driver time
    on py4j round-trips than the job itself."""
    nsh = len(shift_us)
    nd = len(rcols)
    W, k = int(W), int(k)
    zr = [
        F.expr(zcol_sql(rcols, us)).alias(f"__z{t}")
        for t, us in enumerate(shift_us)
    ]
    zl = [
        F.expr(zcol_sql(lcols, us)).alias(f"__z{t}")
        for t, us in enumerate(shift_us)
    ]
    # one row: per shift, right rows as a (z, rid, coords…) array
    # sorted by (z, rid) — array position IS the per-shift right rank —
    # plus the plain z array the binary search probes
    rarr = (
        rp.select(
            F.col(rtb).alias("__rid"),
            *[F.col(c).cast("double").alias(f"__x{i}") for i, c in enumerate(rcols)],
            *zr,
        )
        .groupBy()
        .agg(
            *[
                F.expr(
                    "array_sort(collect_list(named_struct("
                    + f"'z', __z{t}, 'rid', __rid, "
                    + ", ".join(f"'x{i}', __x{i}" for i in range(nd))
                    + ")))"
                ).alias(f"__rarr{t}")
                for t in range(nsh)
            ]
        )
        .select(
            "*",
            *[
                F.expr(f"transform(__rarr{t}, s -> s.z)").alias(f"__zs{t}")
                for t in range(nsh)
            ],
        )
    )
    # c_t = #right rows with z_t ≤ this left row's z_t (identical to
    # the bucketed pipeline's running right-count: at equal z every
    # right row precedes every left row)
    # binary-search depth sized to the KNOWN right count (the stats job
    # already ran): ceil(log2(n+1)) steps provably converge — vs a
    # fixed 40, this shrinks the interpreted per-row expression AND the
    # SQL string the driver builds/parses by ~3× at typical sizes
    if n_right is not None and n_right > 0:
        iters = max(1, math.ceil(math.log2(n_right + 1)))
    else:
        iters = 40  # covers |R| ≤ 2^40; the expression is tiny per step
    lefts = lp.select("*", *zl).crossJoin(F.broadcast(rarr))
    for t in range(nsh):
        lefts = lefts.withColumn(
            f"__c{t}", F.expr(_upper_bound_sql(f"__zs{t}", f"__z{t}", iters))
        )

    def scored_sql(t: int) -> str:
        start = f"greatest(__c{t} - {W} + 1, CAST(1 AS BIGINT))"
        length = f"__c{t} + {W} - ({start}) + 1"
        # mirror dist2_cols exactly (0.0 + Σ d·d, same association
        # order) so the value hash matches the bucketed path and the
        # SQL oracle bit-for-bit
        d2 = "CAST(0.0 AS DOUBLE)"
        for i, lc in enumerate(lcols):
            dd = f"(CAST(`{lc}` AS DOUBLE) - s.x{i})"
            d2 = f"({d2} + {dd} * {dd})"
        return (
            f"transform(slice(__rarr{t}, CAST({start} AS INT), "
            f"CAST({length} AS INT)), "
            f"s -> named_struct('dist', sqrt({d2}), 'rid', s.rid))"
        )

    top = F.expr(
        "slice(array_distinct(filter(array_sort(concat("
        + ", ".join(scored_sql(t) for t in range(nsh))
        + ")), s -> s.dist IS NOT NULL)), 1, "
        + str(k)
        + ")"
    )
    return (
        lefts.select(*[F.col(c) for c in lp.columns], F.explode(top).alias("__s"))
        .select(
            *lp.columns,
            F.col("__s.rid").alias(rtb),
            F.col("__s.dist").alias("dist"),
        )
        # payload join: the gate guarantees the right side is
        # broadcast-sized on this path — skip the shuffle SMJ. (Carrying
        # the full right row inside the rank-array structs was measured
        # SLOWER: wide string payloads balloon the single-row
        # collect_list/sort and the broadcast.)
        .join(F.broadcast(rp), on=rtb, how="inner")
    )


def _zrank_candidates_tagged(lz, rz, k: int, lid: str, rid: str, zbits: int = 32):
    """(left_id, right_id) candidates = each left row's ±k z-order right
    neighbors, for ALL shifts in one ranking pipeline
    (ref: ZKJSpark.scala:36-170 ±k windows). Inputs are the tagged
    skinny frames (id, __tag, __z) with one row per (row, shift);
    ``zbits`` = total bits in the z value (d · bits).

    Scalable global rank per shift, fully declarative — no
    materialization, no extra pass: each row's bucket is its coarse
    z-prefix (a DETERMINISTIC function of the value, identical on every
    recomputation — unlike repartitionByRange, whose sampled boundaries
    forced an eager localCheckpoint here in round 2), running count of
    right rows per (shift, bucket) (parallel window — never a
    single-partition sort), then add per-(shift, bucket) offsets (a
    tiny cumulative window over shifts×2^pbits rows, broadcast back).
    Left rows read off c = #right rows ordered before them in their
    shift; ±k = ranks [c-k+1, c+k], materialized by exploding a
    2k-element sequence and equi-joining on (shift, rank) — bounded
    fanout, no range join, no skew amplification (a z-dense region
    makes one window group larger, never a bigger join output)."""
    k = int(k)
    u = rz.select(
        "__tag", F.col(rid).alias("__uid"), "__z", F.lit(1).alias("__isr")
    ).unionByName(
        lz.select("__tag", F.col(lid).alias("__uid"), "__z", F.lit(0).alias("__isr"))
    )
    # order: z asc, right-before-left at equal z (so c includes ties),
    # unique id last for full determinism
    tie_order = [F.col("__z").asc(), F.col("__isr").desc(), F.col("__uid").asc()]
    # bucket = top pbits of z: deterministic, zero extra passes.
    # 256 buckets × shifts window groups bounds the offsets table
    # while giving ample window parallelism; equal z always shares
    # a bucket, so the right-before-left tie order never straddles
    # a boundary.
    pbits = min(8, zbits - 1)
    d = u.withColumn("__pid", F.shiftright(F.col("__z"), zbits - pbits))
    # the offsets subplan below and the main ranked pass both read
    # `d` — EAGER (r12): the two reads materialize concurrently, and a
    # lazy cut's scan+z-eval would be recomputed once per concurrent
    # reference instead of once
    d = d.localCheckpoint(eager=True)
    # per-(shift, bucket) offset = right rows in earlier buckets of
    # the same shift: a tiny cumulative window over ≤ shifts·2^pbits
    # rows, broadcast back — fully declarative, no driver round-trip
    woff = (
        Window.partitionBy("__tag")
        .orderBy(F.col("__pid").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        d.groupBy("__tag", "__pid")
        .agg(F.sum("__isr").alias("__s"))
        .withColumn("__off", F.coalesce(F.sum("__s").over(woff), F.lit(0)))
        .drop("__s")
    )
    w = Window.partitionBy("__tag", "__pid").orderBy(*tie_order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = d.join(
        F.broadcast(offsets), on=["__tag", "__pid"], how="inner"
    ).withColumn("__c", F.sum("__isr").over(w) + F.col("__off"))
    # both the right-rank and left-count branches read `ranked` in ONE
    # final plan — EAGER (r12): concurrent references to a lazy cut
    # recompute the scan→window pipeline per branch; the blocking
    # materialization is the same window pass the first branch ran
    # (still post-rank, unlike round 2's rejected pre-rank checkpoint)
    ranked = ranked.localCheckpoint(eager=True)
    lcounts = ranked.filter(F.col("__isr") == 0).select(
        "__tag", F.col("__uid").alias(lid), "__c"
    )
    rranks = ranked.filter(F.col("__isr") == 1).select(
        "__tag", F.col("__uid").alias(rid), F.col("__c").alias("__rank")
    )
    wanted = lcounts.select(
        "__tag",
        lid,
        F.explode(
            F.sequence(
                F.greatest(F.col("__c") - k + 1, F.lit(1).cast("long")),
                F.col("__c") + k,
            )
        ).alias("__rank"),
    )
    return wanted.join(rranks, on=["__tag", "__rank"], how="inner").select(lid, rid)
