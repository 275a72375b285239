"""Spatial point filters: range, circle-range, kNN, and kNN boolean algebra.

Reference semantics reproduced here (SURVEY.md §2.2, §2.4):

- ``range_query``   — ``InRange`` closed-rectangle filter
  (ref: expression/InRange.scala:31-47)
- ``circle_range``  — ``InCircleRange`` closed ball filter
  (ref: expression/InCircleRange.scala:32-50)
- ``knn``           — global top-k by L2 distance, exactly k rows
  (ref: expression/InKNN.scala:29-42; physical path
  FilterExec.scala:48-49 ``takeOrdered(k)``), through
  :func:`_knn_select` — the one kNN selection program, which
  ``geo.geo_knn`` runs too with the spherical metric
- ``knn_and / knn_or / knn_not`` — set semantics for boolean
  combinations containing a kNN term
  (ref: execution/FilterExec.scala:51-68)

Scale notes: range/circle filters are sargable Column predicates ⇒
Parquet row-group pruning + whole-stage codegen; no shuffle. kNN uses
``orderBy(dist).limit(k)`` which Spark executes as TakeOrderedAndProject:
per-partition partial top-k then a single k-row merge — never a global
sort, never more than k rows to the driver (SURVEY §4.2 two-phase analog).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import dist2, in_circle_range, in_range


def range_query(
    df: DataFrame,
    cols: Sequence,
    low: Sequence[float],
    high: Sequence[float],
    registry=None,
) -> DataFrame:
    """All rows whose point lies in the closed rectangle [low, high].

    If `registry` holds a layout for df, the scan is first pruned to the
    partitions whose bounds intersect the query box (global-index analog).
    """
    if registry is not None:
        df = registry.prune_for_range(df, cols, low, high)
    return df.filter(in_range(cols, low, high))


def circle_range(
    df: DataFrame,
    cols: Sequence,
    center: Sequence[float],
    radius: float,
    registry=None,
) -> DataFrame:
    """All rows within closed distance `radius` of `center`.

    The sargable MBR pre-filter comes first so the Parquet reader can
    skip row groups; the exact circle test runs on survivors only.
    """
    r = float(radius)
    lo = [c - r for c in center]
    hi = [c + r for c in center]
    if registry is not None:
        # partition-covered short-circuit (ref: Dist.furthest,
        # spatial/Dist.scala:24-34): buckets the ball swallows whole
        # scan with no per-row distance arithmetic
        routed = registry.circle_scan(df, cols, center, r)
        if routed is not None:
            return routed
        df = registry.prune_for_range(df, cols, lo, hi)
    return df.filter(in_range(cols, lo, hi)).filter(
        in_circle_range(cols, center, r)
    )


def knn(
    df: DataFrame,
    cols: Sequence,
    query_point: Sequence[float],
    k: int,
    tiebreak: Optional[str] = None,
    registry=None,
) -> DataFrame:
    """Exactly-k nearest rows to `query_point` by L2 distance.

    Ties: the reference breaks ties arbitrarily (``keepSame=false``,
    SURVEY §1.5). For deterministic, oracle-hashable output we expose an
    optional `tiebreak` column (usually the table's id) appended to the
    ordering. Output schema == input schema (distance column is internal).

    With a registered layout the two-phase bound-and-prune of
    :func:`_knn_select` runs instead, over squared distances: θ and the
    box bounds are squared, and the θ-ball's z-cover is the box
    [q-√θ, q+√θ].
    """
    q = [float(x) for x in query_point]

    def ball_cover(lay, theta2):
        r = theta2 ** 0.5
        return lay.z_ranges_for_box([c - r for c in q], [c + r for c in q])

    metric = _SelectMetric(
        dist2(cols, q), lambda b: _bounds_mindist2(b, cols, q), ball_cover)
    return _knn_select(df, cols, metric, "__simba_d2", k, tiebreak, registry,
                       keep_dist=False)


@dataclass(frozen=True)
class _SelectMetric:
    """One metric's share of the kNN selection, bound to a query point."""

    #: distance to the query, or any key monotone in it
    dist: Column
    #: bounds-table row -> lower bound on ``dist`` over the bucket's box
    box_lb: Callable[[dict], float]
    #: (layout, θ) -> z-ranges covering every point with dist <= θ, or
    #: None when the cover spans the whole domain
    ball_cover: Callable


def _knn_select(df, cols, metric, dist_col, k, tiebreak, registry, keep_dist):
    """Exactly-k nearest rows under ``metric``, the distance riding in
    ``dist_col`` (dropped from the output unless ``keep_dist``).

    Unrouted: one ``orderBy(dist).limit(k)`` — TakeOrderedAndProject,
    k rows to the driver. Over a routable z-order layout
    (``registry.zorder_layout``) the reference's two-phase
    bound-and-prune (ref: IndexedRelationScan.scala:117-151) runs, with
    pruning expressed as sargable z-interval predicates (plus
    bucket-directory pruning for persisted layouts) so skipped buckets
    cost no I/O:

    - phase 1: kNN over the smallest bucket prefix, ordered by
      ``metric.box_lb``, holding >= k rows (any >=k-row subset yields a
      valid upper bound θ = its kth distance; k scalars reach the
      driver, the same traffic as the reference's takeOrdered merge);
    - phase 2: if no other bucket's box can hold a closer-or-tied
      point, phase 1 is final; else exact kNN over ``metric.ball_cover``
      of the θ-ball — every true neighbor has dist <= θ.

    A tiny table, k <= 0, or null coordinates leaving phase 1 short of
    k distances (its max is then NOT a kth-NN bound) scan exactly."""
    lay = registry.zorder_layout(df, cols) if registry is not None else None

    def scan(source):
        return _knn_scan(source, metric.dist, dist_col, k, tiebreak)

    def done(out):
        return out if keep_dist else out.drop(dist_col)

    if lay is None:
        return done(scan(df))
    k = int(k)
    ranked = sorted(lay.bounds, key=metric.box_lb)
    sel, acc = [], 0
    for b in ranked:
        sel.append(int(b["zb"]))
        acc += int(b["count"])
        if acc >= k:
            break
    if k <= 0 or acc < k or len(sel) == len(ranked):
        return done(scan(lay.pruned_scan(None)))
    phase1 = scan(lay.pruned_scan(lay.z_ranges_for_buckets(sel)))
    d_rows = phase1.select(dist_col).collect()
    if len(d_rows) < k:
        return done(scan(lay.pruned_scan(None)))
    theta = max(r[0] for r in d_rows)
    picked = set(sel)
    if not any(metric.box_lb(b) <= theta for b in ranked
               if int(b["zb"]) not in picked):
        return done(phase1)
    return done(scan(lay.pruned_scan(metric.ball_cover(lay, theta))))


def _knn_scan(df, dist, dist_col, k, tiebreak):
    order = [F.col(dist_col).asc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).asc())
    return (
        df.withColumn(dist_col, dist)
        # a null distance (null key coordinates) never qualifies — without
        # this, Spark's NULLS-FIRST asc would hand nulls the top-k slots
        .filter(F.col(dist_col).isNotNull())
        .orderBy(*order)
        .limit(int(k))
    )


def _bounds_mindist2(bounds_row, cols, q):
    """Squared min distance from q to a partition's bounds box — 0 if q
    is inside (driver-side analog of MBR.minDist, ref: MBR.scala:78-89)."""
    s = 0.0
    for i in range(len(cols)):
        lo, hi = bounds_row.get(f"min_{i}"), bounds_row.get(f"max_{i}")
        if lo is None or hi is None:
            return float("inf")
        d = max(float(lo) - q[i], 0.0, q[i] - float(hi))
        s += d * d
    return s


# ---------------------------------------------------------------------------
# Boolean combinations containing a kNN term get SET semantics
# (ref: FilterExec.scala:51-68): A AND knn = intersection of row sets,
# A OR knn = union + distinct, NOT knn = subtract. Plain predicates keep
# ordinary row-filter semantics.


def knn_and(df: DataFrame, knn_df: DataFrame, condition: Column) -> DataFrame:
    """Rows satisfying `condition` ∩ rows in the kNN result."""
    return df.filter(condition).intersect(knn_df)


def knn_or(df: DataFrame, knn_df: DataFrame, condition: Column) -> DataFrame:
    """Rows satisfying `condition` ∪ kNN rows, de-duplicated."""
    return df.filter(condition).union(knn_df).distinct()


def knn_not(df: DataFrame, knn_df: DataFrame) -> DataFrame:
    """Rows NOT in the kNN result (multiset subtract, ref: RDD.subtract)."""
    return df.exceptAll(knn_df)
