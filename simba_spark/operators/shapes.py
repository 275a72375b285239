"""Distributed range/circle predicates over *shape-valued* columns.

The reference's ``InRange(shape, low, high)`` evaluates
``MBR(low, high).intersects(shape)`` for ANY shape row — point, box,
circle, or line segment (ref: expression/InRange.scala:35-42 via
ShapeUtils.getShape; closed-boundary intersection semantics from
MBR.scala:60-76, Circle.scala:69, LineSegment.scala). The engine's
point filters (:mod:`simba_spark.operators.filters`) cover the point
case; this module covers box and segment *columns* with pure Column
arithmetic — codegen'd, partially sargable, no UDFs.

Column encodings (2-D segments, N-D boxes and circles):

- box column:     ``struct<lo: array<double>, hi: array<double>>``
  (build with :func:`mbr_struct`)
- segment column: ``struct<x1: double, y1: double, x2: double, y2: double>``
  (build with :func:`segment_struct`)
- circle column:  ``struct<center: array<double>, r: double>``
  (build with :func:`circle_struct`; ShapeType tag-2 analog)
- polygon column: ``array<struct<x:double,y:double>>`` — predicates in
  :mod:`simba_spark.operators.polygon`, dispatched here via
  ``kind='polygon'``

The shape joins (:func:`shape_distance_join`, :func:`shape_shape_join`)
take their candidate pairs from the planar grid kernel in
:mod:`simba_spark.operators.distance_join` and add only their bounding
boxes and exact refine.

Scale notes: every predicate ANDs a sargable bounding-box pre-filter
(min/max comparisons on plain columns when the caller stores the
coordinates as top-level columns) with the exact test, so Parquet
row-group pruning still applies where the physical layout allows it;
the exact tests are branch-free arithmetic inside whole-stage codegen.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .distance_join import _grid_box_join, _prefix_columns


# ---------------------------------------------------------------------------
# constructors


def mbr_struct(lo_cols: Sequence, hi_cols: Sequence) -> Column:
    """Pack per-dimension lo/hi columns into a box struct."""
    lo = [F.col(c) if isinstance(c, str) else c for c in lo_cols]
    hi = [F.col(c) if isinstance(c, str) else c for c in hi_cols]
    return F.struct(
        F.array(*[c.cast("double") for c in lo]).alias("lo"),
        F.array(*[c.cast("double") for c in hi]).alias("hi"),
    )


def segment_struct(x1, y1, x2, y2) -> Column:
    """Pack endpoint columns into a 2-D segment struct."""
    c = lambda v: (F.col(v) if isinstance(v, str) else v).cast("double")
    return F.struct(
        c(x1).alias("x1"), c(y1).alias("y1"), c(x2).alias("x2"), c(y2).alias("y2")
    )


def circle_struct(center_cols: Sequence, r) -> Column:
    """Pack N-D center columns + radius into a circle struct
    (``struct<center: array<double>, r: double>``) — the ShapeType tag-2
    circle row (ref: util/KryoShapeSerializer.scala:35, Circle.scala:28)."""
    c = lambda v: (F.col(v) if isinstance(v, str) else v).cast("double")
    return F.struct(
        F.array(*[c(v) for v in center_cols]).alias("center"),
        c(r).alias("r"),
    )


# ---------------------------------------------------------------------------
# box column predicates


def mbr_intersects_box(mbr_col, low: Sequence[float], high: Sequence[float]) -> Column:
    """Closed box-box intersection per dimension
    (ref: MBR.intersects, MBR.scala:60-67): for every dim,
    ``mbr.hi >= low AND mbr.lo <= high``."""
    m = F.col(mbr_col) if isinstance(mbr_col, str) else mbr_col
    pred = F.lit(True)
    for i, (lo, hi) in enumerate(zip(low, high)):
        pred = (
            pred
            & (F.element_at(m["hi"], i + 1) >= F.lit(float(lo)))
            & (F.element_at(m["lo"], i + 1) <= F.lit(float(hi)))
        )
    return pred


def mbr_intersects_circle(mbr_col, center: Sequence[float], radius: float) -> Column:
    """Closed circle-box intersection: minDist(center, box) <= r
    (ref: MBR.minDist — distance to the nearest face, 0 inside,
    MBR.scala:78-89; Circle.intersects(MBR) uses it, Circle.scala)."""
    m = F.col(mbr_col) if isinstance(mbr_col, str) else mbr_col
    r = float(radius)
    d2 = F.lit(0.0)
    for i, c in enumerate(center):
        lo_i = F.element_at(m["lo"], i + 1)
        hi_i = F.element_at(m["hi"], i + 1)
        gap = F.greatest(lo_i - F.lit(float(c)), F.lit(float(c)) - hi_i, F.lit(0.0))
        d2 = d2 + gap * gap
    return d2 <= F.lit(r * r)


# ---------------------------------------------------------------------------
# circle column predicates (N-D)


def circle_intersects_box(circle_col, low: Sequence[float], high: Sequence[float]) -> Column:
    """Closed circle-row vs query-box intersection:
    minDist(center, box) <= r — the same face-distance formulation the
    reference dispatches for circle shapes (ref: Circle.intersects(MBR)
    via MBR.minDist, Circle.scala:69 / MBR.scala:78-89)."""
    c = F.col(circle_col) if isinstance(circle_col, str) else circle_col
    d2 = F.lit(0.0)
    for i, (lo, hi) in enumerate(zip(low, high)):
        ci = F.element_at(c["center"], i + 1)
        gap = F.greatest(F.lit(float(lo)) - ci, ci - F.lit(float(hi)), F.lit(0.0))
        d2 = d2 + gap * gap
    return d2 <= c["r"] * c["r"]


def circle_intersects_circle(circle_col, center: Sequence[float], radius: float) -> Column:
    """Closed circle-row vs query-ball intersection:
    dist(centers) <= r_row + r_query (ref: Circle.intersects(Circle),
    Circle.scala:62-66)."""
    c = F.col(circle_col) if isinstance(circle_col, str) else circle_col
    d2 = F.lit(0.0)
    for i, q in enumerate(center):
        dd = F.element_at(c["center"], i + 1) - F.lit(float(q))
        d2 = d2 + dd * dd
    rsum = c["r"] + F.lit(float(radius))
    return d2 <= rsum * rsum


# ---------------------------------------------------------------------------
# segment column predicates (2-D)


def _seg_parts(seg_col):
    s = F.col(seg_col) if isinstance(seg_col, str) else seg_col
    return s["x1"], s["y1"], s["x2"], s["y2"]


def segment_intersects_box(seg_col, low: Sequence[float], high: Sequence[float]) -> Column:
    """Closed segment-box intersection via separating axes:
    (1) the segment's bounding box overlaps the query box (x and y axes);
    (2) the box's four corners do not lie strictly on one side of the
    segment's supporting line (the segment-normal axis).
    Both closed — touching counts (ref semantics:
    LineSegment.intersects(MBR) in the geometry module, mirrored from
    the reference's JTS-backed predicates)."""
    x1, y1, x2, y2 = _seg_parts(seg_col)
    lox, loy = float(low[0]), float(low[1])
    hix, hiy = float(high[0]), float(high[1])

    bbox = (
        (F.least(x1, x2) <= F.lit(hix))
        & (F.greatest(x1, x2) >= F.lit(lox))
        & (F.least(y1, y2) <= F.lit(hiy))
        & (F.greatest(y1, y2) >= F.lit(loy))
    )
    dx, dy = x2 - x1, y2 - y1

    def cross(cx: float, cy: float) -> Column:
        return dx * (F.lit(cy) - y1) - dy * (F.lit(cx) - x1)

    c1, c2 = cross(lox, loy), cross(hix, loy)
    c3, c4 = cross(lox, hiy), cross(hix, hiy)
    all_pos = (c1 > 0) & (c2 > 0) & (c3 > 0) & (c4 > 0)
    all_neg = (c1 < 0) & (c2 < 0) & (c3 < 0) & (c4 < 0)
    return bbox & ~all_pos & ~all_neg


def segment_intersects_circle(seg_col, center: Sequence[float], radius: float) -> Column:
    """Closed circle-segment intersection: point-to-segment distance
    <= r, via the clamped projection parameter
    t = clamp(((c-p)·d) / |d|², 0, 1) — branch-free Column arithmetic;
    a degenerate zero-length segment falls back to the endpoint test."""
    x1, y1, x2, y2 = _seg_parts(seg_col)
    cx, cy, r = float(center[0]), float(center[1]), float(radius)
    dx, dy = x2 - x1, y2 - y1
    len2 = dx * dx + dy * dy
    t_raw = ((F.lit(cx) - x1) * dx + (F.lit(cy) - y1) * dy) / len2
    t = F.when(len2 > 0, F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))).otherwise(
        F.lit(0.0)
    )
    px = x1 + t * dx
    py = y1 + t * dy
    d2 = (F.lit(cx) - px) * (F.lit(cx) - px) + (F.lit(cy) - py) * (F.lit(cy) - py)
    return d2 <= F.lit(r * r)


def segments_intersect(seg_a, seg_b) -> Column:
    """Closed segment-segment intersection (touching endpoints and
    collinear overlap count) — the classic orientation test as pure
    Column arithmetic (driver-side twin: geometry._segments_intersect,
    ref: LineSegment.intersects, LineSegment.scala:33-45).

    Proper crossing: the endpoints of each segment lie strictly on
    opposite sides of the other's supporting line. Degenerate cases: a
    zero orientation puts an endpoint ON the other line — it intersects
    iff that endpoint also falls inside the other segment's bbox."""
    ax1, ay1, ax2, ay2 = _seg_parts(seg_a)
    bx1, by1, bx2, by2 = _seg_parts(seg_b)
    return seg_seg_intersect_coords(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2)


def seg_seg_intersect_coords(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2) -> Column:
    """:func:`segments_intersect` on raw coordinate Columns — shared by
    the segment-struct predicate and the polygon edge-pair tests."""

    def orient(ox, oy, px, py, qx, qy):
        return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)

    o1 = orient(ax1, ay1, ax2, ay2, bx1, by1)
    o2 = orient(ax1, ay1, ax2, ay2, bx2, by2)
    o3 = orient(bx1, by1, bx2, by2, ax1, ay1)
    o4 = orient(bx1, by1, bx2, by2, ax2, ay2)

    proper = (
        (((o1 > 0) & (o2 < 0)) | ((o1 < 0) & (o2 > 0)))
        & (((o3 > 0) & (o4 < 0)) | ((o3 < 0) & (o4 > 0)))
    )

    def on_bbox(px, py, sx1, sy1, sx2, sy2):
        return (
            (px >= F.least(sx1, sx2)) & (px <= F.greatest(sx1, sx2))
            & (py >= F.least(sy1, sy2)) & (py <= F.greatest(sy1, sy2))
        )

    touch = (
        ((o1 == 0) & on_bbox(bx1, by1, ax1, ay1, ax2, ay2))
        | ((o2 == 0) & on_bbox(bx2, by2, ax1, ay1, ax2, ay2))
        | ((o3 == 0) & on_bbox(ax1, ay1, bx1, by1, bx2, by2))
        | ((o4 == 0) & on_bbox(ax2, ay2, bx1, by1, bx2, by2))
    )
    return proper | touch


# ---------------------------------------------------------------------------
# DataFrame-level verbs (InRange / InCircleRange over shape columns)


def shape_range(
    df: DataFrame, shape_col: str, low: Sequence[float], high: Sequence[float],
    kind: str = "mbr",
) -> DataFrame:
    """``InRange`` over a shape column: rows whose shape intersects the
    closed query box (ref: InRange.scala:35-42)."""
    if kind == "mbr":
        return df.filter(mbr_intersects_box(shape_col, low, high))
    if kind == "segment":
        return df.filter(segment_intersects_box(shape_col, low, high))
    if kind == "circle":
        return df.filter(circle_intersects_box(shape_col, low, high))
    if kind == "polygon":
        from .polygon import polygon_intersects_box_col

        return df.filter(polygon_intersects_box_col(shape_col, low, high))
    raise ValueError(f"unknown shape kind: {kind}")


def shape_circle_range(
    df: DataFrame, shape_col: str, center: Sequence[float], radius: float,
    kind: str = "mbr",
) -> DataFrame:
    """``InCircleRange`` over a shape column: rows whose shape intersects
    the closed ball (ref: InCircleRange.scala:43-49)."""
    if kind == "mbr":
        return df.filter(mbr_intersects_circle(shape_col, center, radius))
    if kind == "segment":
        return df.filter(segment_intersects_circle(shape_col, center, radius))
    if kind == "circle":
        return df.filter(circle_intersects_circle(shape_col, center, radius))
    if kind == "polygon":
        from .polygon import polygon_intersects_circle_col

        return df.filter(polygon_intersects_circle_col(shape_col, center, radius))
    raise ValueError(f"unknown shape kind: {kind}")


# ---------------------------------------------------------------------------
# minDist from a query point to a shape row (InKNN over shape columns)


def point_to_mbr_dist2(mbr_col, point: Sequence[float]) -> Column:
    """Squared distance from a literal point to a box row — 0 inside
    (ref: MBR.minDist, MBR.scala:78-89)."""
    m = F.col(mbr_col) if isinstance(mbr_col, str) else mbr_col
    d2 = F.lit(0.0)
    for i, q in enumerate(point):
        lo_i = F.element_at(m["lo"], i + 1)
        hi_i = F.element_at(m["hi"], i + 1)
        gap = F.greatest(lo_i - F.lit(float(q)), F.lit(float(q)) - hi_i, F.lit(0.0))
        d2 = d2 + gap * gap
    return d2


def point_to_segment_dist2(seg_col, point: Sequence[float]) -> Column:
    """Squared distance from a literal 2-D point to a segment row
    (clamped projection; ref: LineSegment minDist analog)."""
    x1, y1, x2, y2 = _seg_parts(seg_col)
    qx, qy = float(point[0]), float(point[1])
    dx, dy = x2 - x1, y2 - y1
    len2 = dx * dx + dy * dy
    t_raw = ((F.lit(qx) - x1) * dx + (F.lit(qy) - y1) * dy) / len2
    t = F.when(len2 > 0, F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))).otherwise(
        F.lit(0.0)
    )
    px = x1 + t * dx
    py = y1 + t * dy
    return (F.lit(qx) - px) * (F.lit(qx) - px) + (F.lit(qy) - py) * (F.lit(qy) - py)


def point_to_circle_dist(circle_col, point: Sequence[float]) -> Column:
    """Distance from a literal point to a circle row's boundary-or-
    interior: max(0, dist(center) - r) (ref: Circle.minDist,
    Circle.scala:203-214 analog)."""
    c = F.col(circle_col) if isinstance(circle_col, str) else circle_col
    d2 = F.lit(0.0)
    for i, q in enumerate(point):
        dd = F.element_at(c["center"], i + 1) - F.lit(float(q))
        d2 = d2 + dd * dd
    return F.greatest(F.sqrt(d2) - c["r"], F.lit(0.0))


def shape_knn(
    df: DataFrame,
    shape_col: str,
    point: Sequence[float],
    k: int,
    kind: str = "mbr",
    tiebreak: str = None,
) -> DataFrame:
    """``InKNN`` over a shape column: the k shape rows nearest the
    query point by minDist (0 when the point is inside/on the shape) —
    the reference dispatches this through Shape.minDist for ANY shape
    (ref: InKNN.scala:31-49 via ShapeUtils/Dist). Plain
    TakeOrderedAndProject: distributed partial top-k, ≤ k rows to the
    driver."""
    if kind == "mbr":
        d = F.sqrt(point_to_mbr_dist2(shape_col, point))
    elif kind == "segment":
        d = F.sqrt(point_to_segment_dist2(shape_col, point))
    elif kind == "circle":
        d = point_to_circle_dist(shape_col, point)
    elif kind == "polygon":
        from .polygon import point_to_polygon_dist2

        px, py = float(point[0]), float(point[1])
        d = F.sqrt(point_to_polygon_dist2(F.lit(px), F.lit(py), shape_col))
    else:
        raise ValueError(f"unknown shape kind: {kind}")
    order = [F.col("__sd").asc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    return (
        df.withColumn("__sd", d)
        .filter(F.col("__sd").isNotNull())
        .orderBy(*order)
        .limit(int(k))
        .withColumnRenamed("__sd", "shape_dist")
    )


# ---------------------------------------------------------------------------
# shape-row distance join (DJSpark over non-point left rows)


def _shape_mbr_cols(shape_col, kind: str):
    """(mnx, mxx, mny, mxy) Columns of a 2-D shape row's bounding box."""
    s = F.col(shape_col) if isinstance(shape_col, str) else shape_col
    if kind == "mbr":
        return (
            F.element_at(s["lo"], 1), F.element_at(s["hi"], 1),
            F.element_at(s["lo"], 2), F.element_at(s["hi"], 2),
        )
    if kind == "segment":
        x1, y1, x2, y2 = _seg_parts(s)
        return F.least(x1, x2), F.greatest(x1, x2), F.least(y1, y2), F.greatest(y1, y2)
    if kind == "circle":
        cx = F.element_at(s["center"], 1)
        cy = F.element_at(s["center"], 2)
        return cx - s["r"], cx + s["r"], cy - s["r"], cy + s["r"]
    raise ValueError(f"unknown shape kind: {kind}")


def _point_shape_within(shape_col, px, py, r: float, kind: str):
    """Closed minDist(point, shape) <= r as plain Column arithmetic."""
    s = F.col(shape_col) if isinstance(shape_col, str) else shape_col
    if kind == "mbr":
        gx = F.greatest(F.element_at(s["lo"], 1) - px, px - F.element_at(s["hi"], 1), F.lit(0.0))
        gy = F.greatest(F.element_at(s["lo"], 2) - py, py - F.element_at(s["hi"], 2), F.lit(0.0))
        return gx * gx + gy * gy <= F.lit(r * r)
    if kind == "segment":
        x1, y1, x2, y2 = _seg_parts(s)
        dx, dy = x2 - x1, y2 - y1
        len2 = dx * dx + dy * dy
        t_raw = ((px - x1) * dx + (py - y1) * dy) / len2
        t = F.when(len2 > 0, F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))).otherwise(F.lit(0.0))
        qx = x1 + t * dx
        qy = y1 + t * dy
        return (px - qx) * (px - qx) + (py - qy) * (py - qy) <= F.lit(r * r)
    if kind == "circle":
        dx = F.element_at(s["center"], 1) - px
        dy = F.element_at(s["center"], 2) - py
        return F.greatest(F.sqrt(dx * dx + dy * dy) - s["r"], F.lit(0.0)) <= F.lit(r)
    raise ValueError(f"unknown shape kind: {kind}")


def shape_distance_join(
    shapes: DataFrame,
    points: DataFrame,
    shape_col: str,
    point_cols: Sequence[str],
    r: float,
    kind: str = "mbr",
    cell_size: float = None,
    left_prefix: str = "a_",
    right_prefix: str = "b_",
    max_cells_per_row: int = 10_000,
) -> DataFrame:
    """All (shape row, point row) pairs with minDist(shape, point) <= r
    (closed) for 2-D box / segment / circle rows — the reference's
    distance join dispatched over non-point shapes (DJSpark +
    Shape.minDist; polygons have their own
    :func:`~simba_spark.operators.polygon.polygon_distance_join`).

    Candidates come from the planar grid kernel
    (:func:`~simba_spark.operators.distance_join._grid_box_join`):
    each shape's r-expanded bounding box against the point's one cell,
    then the codegen'd minDist refine."""
    assert len(point_cols) == 2, "shape_distance_join is 2-D"
    r = float(r)
    lp = _prefix_columns(shapes, left_prefix)
    rp = _prefix_columns(points, right_prefix)
    sc = f"{left_prefix}{shape_col}"
    px = F.col(f"{right_prefix}{point_cols[0]}").cast("double")
    py = F.col(f"{right_prefix}{point_cols[1]}").cast("double")
    mnx, mxx, mny, mxy = _shape_mbr_cols(sc, kind)
    box = ([mnx - F.lit(r), mny - F.lit(r)], [mxx + F.lit(r), mxy + F.lit(r)])
    return _grid_box_join(
        lp, rp, box, ([px, py], None), cell_size, max_cells_per_row,
        "shape_distance_join",
    ).filter(_point_shape_within(sc, px, py, r, kind))


# ---------------------------------------------------------------------------
# generic shape x shape distance / intersection join (full shape matrix)


def _box_parts(box_col):
    """(lox, hix, loy, hiy) Columns of a 2-D box struct."""
    s = F.col(box_col) if isinstance(box_col, str) else box_col
    return (
        F.element_at(s["lo"], 1), F.element_at(s["hi"], 1),
        F.element_at(s["lo"], 2), F.element_at(s["hi"], 2),
    )


def _seg_box_intersect_cols(x1, y1, x2, y2, lox, loy, hix, hiy) -> Column:
    """Closed segment-box intersection with COLUMN box bounds — the
    separating-axis test of :func:`segment_intersects_box` generalized
    from literal bounds to per-row bounds."""
    bbox = (
        (F.least(x1, x2) <= hix) & (F.greatest(x1, x2) >= lox)
        & (F.least(y1, y2) <= hiy) & (F.greatest(y1, y2) >= loy)
    )
    dx, dy = x2 - x1, y2 - y1

    def cross(cx, cy):
        return dx * (cy - y1) - dy * (cx - x1)

    c1, c2 = cross(lox, loy), cross(hix, loy)
    c3, c4 = cross(lox, hiy), cross(hix, hiy)
    all_pos = (c1 > 0) & (c2 > 0) & (c3 > 0) & (c4 > 0)
    all_neg = (c1 < 0) & (c2 < 0) & (c3 < 0) & (c4 < 0)
    return bbox & ~all_pos & ~all_neg


def shape_pair_within(shape_a, kind_a: str, shape_b, kind_b: str, r) -> Column:
    """Closed ``minDist(shape_a, shape_b) <= r`` for ANY pair of 2-D
    box / segment / circle rows — the reference's ``Shape.minDist`` /
    ``intersects`` dispatch matrix (ref: MBR.scala:60-102,
    LineSegment.scala:33-76, Circle.scala:33-76 via ShapeUtils.getShape)
    as pure codegen'd Column arithmetic. ``r=0`` is the exact
    intersection predicate (orientation tests for segments, not a
    float distance-to-zero compare)."""
    from .polygon import _point_seg_d2, _seg_seg_d2

    r = float(r)
    sa = F.col(shape_a) if isinstance(shape_a, str) else shape_a
    sb = F.col(shape_b) if isinstance(shape_b, str) else shape_b
    ka, kb = kind_a, kind_b
    for k in (ka, kb):
        if k not in ("mbr", "segment", "circle"):
            raise ValueError(
                f"unsupported shape kind {k!r} (use polygon_polygon_join / "
                "polygon_distance_join for polygon rows)"
            )
    # normalize the unordered pair so each combo is implemented once
    # (minDist is symmetric)
    if (ka, kb) in (("segment", "mbr"), ("circle", "mbr"), ("circle", "segment")):
        sa, sb, ka, kb = sb, sa, kb, ka

    if (ka, kb) == ("mbr", "mbr"):
        alox, ahix, aloy, ahiy = _box_parts(sa)
        blox, bhix, bloy, bhiy = _box_parts(sb)
        gx = F.greatest(alox - bhix, blox - ahix, F.lit(0.0))
        gy = F.greatest(aloy - bhiy, bloy - ahiy, F.lit(0.0))
        return gx * gx + gy * gy <= F.lit(r * r)
    if (ka, kb) == ("mbr", "segment"):
        lox, hix, loy, hiy = _box_parts(sa)
        x1, y1, x2, y2 = _seg_parts(sb)
        inter = _seg_box_intersect_cols(x1, y1, x2, y2, lox, loy, hix, hiy)
        if r == 0.0:
            return inter
        # non-intersecting: the nearest box point lies on one of the 4
        # boundary edges — min over edge-segment distances
        edges = [
            (lox, loy, hix, loy), (hix, loy, hix, hiy),
            (hix, hiy, lox, hiy), (lox, hiy, lox, loy),
        ]
        d2 = F.least(
            *[_seg_seg_d2(x1, y1, x2, y2, ex1, ey1, ex2, ey2)
              for ex1, ey1, ex2, ey2 in edges]
        )
        return inter | (d2 <= F.lit(r * r))
    if (ka, kb) == ("mbr", "circle"):
        lox, hix, loy, hiy = _box_parts(sa)
        cx = F.element_at(sb["center"], 1)
        cy = F.element_at(sb["center"], 2)
        gx = F.greatest(lox - cx, cx - hix, F.lit(0.0))
        gy = F.greatest(loy - cy, cy - hiy, F.lit(0.0))
        reach = F.lit(r) + sb["r"]
        return gx * gx + gy * gy <= reach * reach
    if (ka, kb) == ("segment", "segment"):
        ax1, ay1, ax2, ay2 = _seg_parts(sa)
        bx1, by1, bx2, by2 = _seg_parts(sb)
        inter = seg_seg_intersect_coords(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2)
        if r == 0.0:
            return inter
        return inter | (
            _seg_seg_d2(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2) <= F.lit(r * r)
        )
    if (ka, kb) == ("segment", "circle"):
        x1, y1, x2, y2 = _seg_parts(sa)
        cx = F.element_at(sb["center"], 1)
        cy = F.element_at(sb["center"], 2)
        reach = F.lit(r) + sb["r"]
        return _point_seg_d2(cx, cy, x1, y1, x2, y2) <= reach * reach
    # circle x circle
    axc = F.element_at(sa["center"], 1)
    ayc = F.element_at(sa["center"], 2)
    bxc = F.element_at(sb["center"], 1)
    byc = F.element_at(sb["center"], 2)
    dx, dy = axc - bxc, ayc - byc
    reach = F.lit(r) + sa["r"] + sb["r"]
    return dx * dx + dy * dy <= reach * reach


def shape_shape_join(
    left: DataFrame,
    right: DataFrame,
    left_shape_col: str,
    right_shape_col: str,
    r: float = 0.0,
    left_kind: str = "mbr",
    right_kind: str = "mbr",
    cell_size: float = None,
    left_prefix: str = "a_",
    right_prefix: str = "b_",
    max_cells_per_row: int = 10_000,
) -> DataFrame:
    """All (left row, right row) pairs with
    ``minDist(left shape, right shape) <= r`` (closed) for ANY
    combination of 2-D box / segment / circle rows; ``r=0`` is the
    INTERSECTION join. Completes the reference's shape-matrix dispatch
    (ref: DJSpark.scala:47-53 joining ``Shape.minDist`` over
    ShapeUtils.getShape'd rows of any kind) as a distributed grid join
    — no cartesian anywhere.

    Candidates come from the planar grid kernel
    (:func:`~simba_spark.operators.distance_join._grid_box_join`): the
    left r-expanded and right bounding boxes, each pair once in its
    canonical cell, then the exact :func:`shape_pair_within` refine."""
    r = float(r)
    lp = _prefix_columns(left, left_prefix)
    rp = _prefix_columns(right, right_prefix)
    sa = F.col(f"{left_prefix}{left_shape_col}")
    sb = F.col(f"{right_prefix}{right_shape_col}")
    amnx, amxx, amny, amxy = _shape_mbr_cols(sa, left_kind)
    bmnx, bmxx, bmny, bmxy = _shape_mbr_cols(sb, right_kind)
    abox = ([amnx - F.lit(r), amny - F.lit(r)], [amxx + F.lit(r), amxy + F.lit(r)])
    return _grid_box_join(
        lp, rp, abox, ([bmnx, bmny], [bmxx, bmxy]), cell_size,
        max_cells_per_row, "shape_shape_join",
    ).filter(shape_pair_within(sa, left_kind, sb, right_kind, r))
