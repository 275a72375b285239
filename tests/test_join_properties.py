"""Property-based equivalence for the join operators (hypothesis).

The unit matrix checks fixed fixtures; these generate adversarial
inputs — tiny integer grids force duplicate points and exact distance
ties, the cases where a blocking scheme quietly loses or duplicates a
pair. Oracle = numpy brute force on the driver (no second Spark job),
so a handful of examples stays fast while still exploring the corner
space. Closed-bound semantics (<= r) and (dist, id) tie order match
the engine contract (SURVEY §5 equivalence properties).
"""

import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

# coordinates on a 6x6 integer grid: duplicates and exact ties are the
# norm, not the exception
tiny = st.integers(min_value=0, max_value=5)
point = st.tuples(tiny, tiny)
points = st.lists(point, min_size=1, max_size=30)
radius = st.sampled_from([0.0, 1.0, 1.5, 2.0, math.sqrt(2.0)])
# the grid-join edge cases: integer points straddling zero sit exactly
# on cell boundaries at every cell width below; 0.25 makes each
# r-buffer or box span many cells
signed = st.integers(min_value=-3, max_value=3)
signed_points = st.lists(st.tuples(signed, signed), min_size=1, max_size=30)
cell = st.sampled_from([None, 1.0, 0.25])

JOIN_SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, pts):
    return spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "id long, x double, y double",
    )


@JOIN_SETTINGS
@given(signed_points, signed_points, radius, cell)
@example(la=[(-2, -2), (0, 0), (-1, 3)], rb=[(-2, -2), (0, 0), (2, -3)],
         r=0.0, cs=None)
@example(la=[(-2, 0), (0, -2), (2, 2)], rb=[(-3, 0), (-1, 0), (0, -1), (2, 3)],
         r=1.0, cs=None)
def test_distance_join_grid_matches_bruteforce(spark, la, rb, r, cs):
    from simba_spark.operators.distance_join import distance_join
    from simba_spark.streaming import streaming_distance_join

    out = distance_join(
        _df(spark, la), _df(spark, rb), ["x", "y"], ["x", "y"], r,
        algo="grid", cell_size=cs, left_prefix="a_", right_prefix="b_",
    )
    got = sorted((row["a_id"], row["b_id"]) for row in out.collect())
    want = sorted(
        (i, j)
        for i, (ax, ay) in enumerate(la)
        for j, (bx, by) in enumerate(rb)
        if (ax - bx) ** 2 + (ay - by) ** 2 <= r * r
    )
    assert got == want
    if cs is None:
        # the stream-static join over a batch frame is the same join
        def rows(df):
            return sorted(map(tuple, df.collect()))

        assert rows(streaming_distance_join(
            _df(spark, la), _df(spark, rb), ["x", "y"], ["x", "y"], r,
            static_prefix="b_",
        )) == rows(distance_join(
            _df(spark, la), _df(spark, rb), ["x", "y"], ["x", "y"], r,
            algo="grid", right_prefix="b_",
        ))


@JOIN_SETTINGS
@given(points, points, st.integers(min_value=1, max_value=4))
@pytest.mark.parametrize("algo", ["theta", "voronoi"])
def test_knn_join_matches_bruteforce(spark, algo, la, rb, k):
    from simba_spark.operators.knn_join import knn_join

    got = sorted(
        (row["l_id"], row["r_id"])
        for row in knn_join(
            _df(spark, la), _df(spark, rb), ["x", "y"], ["x", "y"], k,
            left_id="id", algo=algo, right_tiebreak="id",
        ).collect()
    )
    want = []
    for i, (ax, ay) in enumerate(la):
        ranked = sorted(
            (((ax - bx) ** 2 + (ay - by) ** 2), j)
            for j, (bx, by) in enumerate(rb)
        )
        want += [(i, j) for _, j in ranked[:k]]
    assert got == sorted(want)


# --- the shape and polygon grid joins ------------------------------------------

# integer boxes straddling zero: corners and points sit on cell
# boundaries, and at cell 0.25 a box spans many cells
box = st.tuples(signed, signed, st.integers(1, 3), st.integers(1, 3))
boxes = st.lists(box, min_size=1, max_size=10)
shape_radius = st.sampled_from([0.0, 1.0, 2.5])
SHAPE_JOINS = ["shape_distance_join", "polygon_distance_join",
               "shape_shape_join", "polygon_polygon_join"]


def _box_frame(spark, bs):
    from simba_spark.operators.shapes import mbr_struct

    return spark.createDataFrame(
        [(i, float(x), float(y), float(x + w), float(y + h),
          [{"x": float(px), "y": float(py)}
           for px, py in ((x, y), (x + w, y), (x + w, y + h), (x, y + h))])
         for i, (x, y, w, h) in enumerate(bs)],
        "id long, xlo double, ylo double, xhi double, yhi double, "
        "poly array<struct<x: double, y: double>>",
    ).withColumn("box", mbr_struct(["xlo", "ylo"], ["xhi", "yhi"]))


def _shape_join(spark, op, la, rb, r, **kw):
    from simba_spark.operators import polygon, shapes

    a = _box_frame(spark, la)
    if op == "shape_distance_join":
        return shapes.shape_distance_join(
            a, _df(spark, rb), "box", ["x", "y"], r, **kw)
    if op == "polygon_distance_join":
        return polygon.polygon_distance_join(
            a, _df(spark, rb), "poly", ["x", "y"], r, **kw)
    b = _box_frame(spark, rb)
    if op == "shape_shape_join":
        return shapes.shape_shape_join(a, b, "box", "box", r, **kw)
    return polygon.polygon_polygon_join(a, b, "poly", "poly", r, **kw)


@pytest.mark.parametrize("op", SHAPE_JOINS)
@JOIN_SETTINGS
@given(la=boxes, rb=st.data(), r=shape_radius, cs=cell)
def test_shape_grid_joins_match_bruteforce(spark, op, la, rb, r, cs):
    from simba_spark.geometry import MBR, Point, Polygon

    def geom(x, y, w, h):
        if op.startswith("polygon"):
            return Polygon([Point(v) for v in
                            ((x, y), (x + w, y), (x + w, y + h), (x, y + h))])
        return MBR(Point((x, y)), Point((x + w, y + h)))

    rb = rb.draw(signed_points if "distance" in op else boxes)
    left = [geom(*b) for b in la]
    right = [Point(p) if "distance" in op else geom(*p) for p in rb]
    want = sorted(
        (i, j) for i, g in enumerate(left) for j, h in enumerate(right)
        if (g.intersects(h) if r == 0.0 else g.min_dist(h) <= r)
    )
    got = sorted(
        (row["a_id"], row["b_id"])
        for row in _shape_join(spark, op, la, rb, r, cell_size=cs).collect()
    )
    assert got == want


@pytest.mark.parametrize("op", SHAPE_JOINS)
def test_shape_grid_joins_guard_max_cells(spark, op):
    """A box covering more cells than the cap fails the query with an
    error naming the operator, instead of exploding the shuffle."""
    # left box 26 x 26 cells; a right box, 6 x 6, stays under the cap
    la = [(0, 0, 3, 3)]
    rb = [(1, 1)] if "distance" in op else [(1, 1, 1, 1)]
    with pytest.raises(Exception, match=f"{op}: a left box covers more than 100 cells"):
        _shape_join(spark, op, la, rb, 1.0, cell_size=0.2,
                    max_cells_per_row=100).collect()
