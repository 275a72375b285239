"""Distance-join / kNN-join correctness vs brute-force pandas oracles,
plus cross-algorithm equivalence (reference implicitly asserts all its
join algorithms agree; we test it explicitly, SURVEY.md §5)."""

import numpy as np
import pytest

from simba_spark.operators.distance_join import distance_join, self_distance_join
from simba_spark.operators.knn_join import knn_join, zknn_join


def _pairs_oracle(a_pd, b_pd, r):
    """All (a.id, b.id) within closed distance r — numpy brute force."""
    A = a_pd[["x", "y"]].to_numpy()
    B = b_pd[["x", "y"]].to_numpy()
    d2 = ((A[:, None, :] - B[None, :, :]) ** 2).sum(axis=2)
    ii, jj = np.where(d2 <= r * r)
    return sorted(zip(a_pd.id.to_numpy()[ii], b_pd.id.to_numpy()[jj]))


def _knn_oracle(a_pd, b_pd, k):
    """(a.id, b.id) for the k nearest b rows per a row, (dist, b.id) order."""
    A = a_pd[["x", "y"]].to_numpy()
    B = b_pd[["x", "y"]].to_numpy()
    d2 = ((A[:, None, :] - B[None, :, :]) ** 2).sum(axis=2)
    bids = b_pd.id.to_numpy()
    out = []
    for i, aid in enumerate(a_pd.id.to_numpy()):
        order = sorted(range(len(bids)), key=lambda j: (d2[i, j], bids[j]))[:k]
        out += [(aid, bids[j]) for j in order]
    return sorted(out)


@pytest.mark.parametrize("algo", ["grid", "broadcast", "cross"])
@pytest.mark.parametrize("r", [2.0, 10.0])
def test_distance_join_algos_match_oracle(pair_dfs, algo, r):
    a, b = pair_dfs
    got = distance_join(
        a, b, ["x", "y"], ["x", "y"], r,
        algo=algo, left_prefix="a_", right_prefix="b_",
    ).select("a_id", "b_id").collect()
    exp = _pairs_oracle(a.toPandas(), b.toPandas(), r)
    assert sorted((r_.a_id, r_.b_id) for r_ in got) == exp
    assert len(exp) > 0


def test_distance_join_closed_bound(spark):
    a = spark.createDataFrame([(0, 0.0, 0.0)], "id long, x double, y double")
    b = spark.createDataFrame(
        [(0, 3.0, 4.0), (1, 3.0001, 4.0)], "id long, x double, y double"
    )
    got = distance_join(
        a, b, ["x", "y"], ["x", "y"], 5.0,
        algo="grid", left_prefix="a_", right_prefix="b_",
    ).select("b_id").collect()
    assert sorted(r.b_id for r in got) == [0]  # dist == r included


def test_distance_join_zero_radius_exact_match(spark):
    a = spark.createDataFrame([(0, 1.0, 2.0), (1, 5.0, 5.0)], "id long, x double, y double")
    b = spark.createDataFrame([(7, 1.0, 2.0), (8, 9.0, 9.0)], "id long, x double, y double")
    got = distance_join(
        a, b, ["x", "y"], ["x", "y"], 0.0,
        algo="grid", left_prefix="a_", right_prefix="b_",
    ).select("a_id", "b_id").collect()
    assert [(r.a_id, r.b_id) for r in got] == [(0, 7)]


def test_self_distance_join_dedup_pairs(pair_dfs):
    a, _ = pair_dfs
    got = self_distance_join(a, ["x", "y"], 5.0, id_col="id").select(
        "a_id", "b_id"
    ).collect()
    exp = [(x, y) for x, y in _pairs_oracle(a.toPandas(), a.toPandas(), 5.0) if x < y]
    assert sorted((r.a_id, r.b_id) for r in got) == sorted(exp)


@pytest.mark.parametrize("algo", ["cross", "broadcast", "bounded", "theta", "voronoi"])
@pytest.mark.parametrize("k", [1, 3])
def test_knn_join_algos_match_oracle(pair_dfs, algo, k):
    a, b = pair_dfs
    got = knn_join(
        a, b, ["x", "y"], ["x", "y"], k,
        left_id="id", algo=algo, right_tiebreak="id",
    ).select("l_id", "r_id").collect()
    exp = _knn_oracle(a.toPandas(), b.toPandas(), k)
    assert sorted((r.l_id, r.r_id) for r in got) == exp


def test_voronoi_knn_join_many_pivots_bounded_plan(pair_dfs):
    """P=256 pivots must still complete with a bounded plan (the
    replication table is a broadcast relation, not an O(P²) literal
    expression — VERDICT r2 item 9) and stay exact."""
    a, b = pair_dfs
    got = knn_join(
        a, b, ["x", "y"], ["x", "y"], 3,
        left_id="id", algo="voronoi", right_tiebreak="id", n_pivots=256,
    ).select("l_id", "r_id").collect()
    exp = _knn_oracle(a.toPandas(), b.toPandas(), 3)
    assert sorted((r.l_id, r.r_id) for r in got) == exp


def test_knn_join_exactly_k_each(pair_dfs):
    a, b = pair_dfs
    k = 4
    got = knn_join(
        a, b, ["x", "y"], ["x", "y"], k,
        left_id="id", algo="bounded", right_tiebreak="id",
    ).groupBy("l_id").count().collect()
    assert all(r["count"] == k for r in got)
    assert len(got) == a.count()


def test_knn_join_k_larger_than_right(spark):
    a = spark.createDataFrame([(0, 0.0, 0.0)], "id long, x double, y double")
    b = spark.createDataFrame(
        [(0, 1.0, 0.0), (1, 2.0, 0.0)], "id long, x double, y double"
    )
    got = knn_join(
        a, b, ["x", "y"], ["x", "y"], 5,
        left_id="id", algo="bounded", right_tiebreak="id",
    ).collect()
    assert len(got) == 2  # only |B| matches exist


def test_zknn_join_recall(pair_dfs):
    """zKNN is approximate: recall vs exact must be >= 0.9 at 2 shifts
    (FIXTURES.md canonical query 7)."""
    a, b = pair_dfs
    k = 3
    exact = set(_knn_oracle(a.toPandas(), b.toPandas(), k))
    got = zknn_join(
        a, b, ["x", "y"], ["x", "y"], k,
        left_id="id", shifts=2, seed=42, right_tiebreak="id",
    ).select("l_id", "r_id").collect()
    approx = set((r.l_id, r.r_id) for r in got)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"zknn recall {recall:.3f} < 0.9"


def test_zknn_join_bucketed_path_matches_simple(pair_dfs):
    """The large-input bucketed rank pipeline must produce EXACTLY the
    same pairs as the small-input broadcast-array plan (the physical
    strategy gate must never change results)."""
    a, b = pair_dfs
    spark = a.sparkSession
    kw = dict(left_id="id", shifts=2, seed=42, right_tiebreak="id")
    simple = sorted(
        (r.l_id, r.r_id)
        for r in zknn_join(a, b, ["x", "y"], ["x", "y"], 3, **kw)
        .select("l_id", "r_id").collect()
    )
    spark.conf.set("simba_spark.zknn.simple_rank_rows", "0")
    try:
        bucketed = sorted(
            (r.l_id, r.r_id)
            for r in zknn_join(a, b, ["x", "y"], ["x", "y"], 3, **kw)
            .select("l_id", "r_id").collect()
        )
    finally:
        spark.conf.unset("simba_spark.zknn.simple_rank_rows")
    assert simple == bucketed


def test_zknn_join_deterministic(pair_dfs):
    a, b = pair_dfs
    r1 = sorted(
        (r.l_id, r.r_id)
        for r in zknn_join(a, b, ["x", "y"], ["x", "y"], 3, left_id="id",
                           shifts=2, seed=7, right_tiebreak="id")
        .select("l_id", "r_id").collect()
    )
    r2 = sorted(
        (r.l_id, r.r_id)
        for r in zknn_join(a, b, ["x", "y"], ["x", "y"], 3, left_id="id",
                           shifts=2, seed=7, right_tiebreak="id")
        .select("l_id", "r_id").collect()
    )
    assert r1 == r2


def test_distance_join_3d_matches_brute_force(spark):
    """N-dimensional parity: the reference Point is arbitrary-dim
    (ref: Point.scala:28-29); the grid join must work beyond 2-D."""
    import random

    from simba_spark.operators.distance_join import distance_join

    rnd = random.Random(5)
    a = spark.createDataFrame(
        [(i, rnd.uniform(0, 10), rnd.uniform(0, 10), rnd.uniform(0, 10)) for i in range(80)],
        "aid long, x double, y double, z double",
    )
    b = spark.createDataFrame(
        [(i, rnd.uniform(0, 10), rnd.uniform(0, 10), rnd.uniform(0, 10)) for i in range(60)],
        "bid long, x double, y double, z double",
    )
    grid = {
        (r.a_aid, r.b_bid)
        for r in distance_join(
            a, b, ["x", "y", "z"], ["x", "y", "z"], 2.0,
            algo="grid", left_prefix="a_", right_prefix="b_",
        ).collect()
    }
    cross = {
        (r.a_aid, r.b_bid)
        for r in distance_join(
            a, b, ["x", "y", "z"], ["x", "y", "z"], 2.0,
            algo="cross", left_prefix="a_", right_prefix="b_",
        ).collect()
    }
    assert grid == cross and len(cross) > 0


def test_knn_join_4d_matches_cross(spark):
    import random

    from simba_spark.operators.knn_join import knn_join

    rnd = random.Random(9)
    mk = lambda n, pre: [
        (i, rnd.uniform(0, 5), rnd.uniform(0, 5), rnd.uniform(0, 5), rnd.uniform(0, 5))
        for i in range(n)
    ]
    a = spark.createDataFrame(mk(40, "a"), "aid long, p double, q double, r double, s double")
    b = spark.createDataFrame(mk(70, "b"), "bid long, p double, q double, r double, s double")
    cols = ["p", "q", "r", "s"]
    bounded = {
        (r.l_aid, r.r_bid)
        for r in knn_join(a, b, cols, cols, 3, left_id="aid", algo="bounded",
                          right_tiebreak="bid").collect()
    }
    cross = {
        (r.l_aid, r.r_bid)
        for r in knn_join(a, b, cols, cols, 3, left_id="aid", algo="cross",
                          right_tiebreak="bid").collect()
    }
    assert bounded == cross and len(cross) == 40 * 3


def test_knn_join_bounded_adversarial_skew(spark):
    """θ comes from a sample; a dense cluster + far outliers is the
    worst case for it (outliers under-sampled ⇒ deficient rows must
    escalate through the retry ladder and still come back exact)."""
    import random

    rng = random.Random(7)
    left_rows = []
    # 500 points in a tight blob, 8 extreme outliers
    for i in range(500):
        left_rows.append((i, rng.gauss(0, 0.5), rng.gauss(0, 0.5)))
    for i in range(500, 508):
        left_rows.append((i, rng.uniform(50000, 90000), rng.uniform(50000, 90000)))
    right_rows = [(i, rng.gauss(0, 0.5), rng.gauss(0, 0.5)) for i in range(300)]
    a = spark.createDataFrame(left_rows, "id long, x double, y double")
    b = spark.createDataFrame(right_rows, "id long, x double, y double")

    from simba_spark.operators.knn_join import knn_join

    def key(df):
        return sorted((r["l_id"], r["r_id"]) for r in df.collect())

    want = key(knn_join(a, b, ["x", "y"], ["x", "y"], 4, left_id="id",
                        algo="cross", right_tiebreak="id"))
    for algo in ("theta", "voronoi"):
        got = key(knn_join(a, b, ["x", "y"], ["x", "y"], 4, left_id="id",
                           algo=algo, right_tiebreak="id"))
        assert got == want, algo

    # θ at 1e-3 of its estimate leaves all of > 1024 left rows deficient:
    # the join walks the θ×4 rung, then the bounded cross (announced by
    # the cross_warn_rows=0 warning)
    more = [(i, rng.gauss(0, 0.5), rng.gauss(0, 0.5)) for i in range(508, 1030)]
    a2 = spark.createDataFrame(left_rows + more, "id long, x double, y double")
    want2 = key(knn_join(a2, b, ["x", "y"], ["x", "y"], 4, left_id="id",
                         algo="cross", right_tiebreak="id"))
    with pytest.warns(RuntimeWarning, match="after θ×4 retry"):
        got2 = key(knn_join(a2, b, ["x", "y"], ["x", "y"], 4, left_id="id",
                            algo="theta", right_tiebreak="id",
                            theta_margin=1e-3, cross_warn_rows=0))
    assert got2 == want2


@pytest.mark.parametrize("op", ["knn_join", "geo_knn_join"])
def test_knn_joins_reject_overlapping_columns(spark, op):
    """Unprefixed sides sharing a column name fail up front with the
    operator's name, for both metrics of the θ kNN join program."""
    from simba_spark.operators.geo import geo_knn_join

    a = spark.createDataFrame([(1, 0.0, 0.0)], "id long, lat double, lon double")
    b = spark.createDataFrame([(2, 1.0, 1.0)], "id long, lat double, lon double")
    with pytest.raises(ValueError, match=f"^{op}: overlapping output columns"):
        if op == "knn_join":
            knn_join(a, b, ["lat", "lon"], ["lat", "lon"], 1, left_id="id",
                     left_prefix="", right_prefix="", algo="theta")
        else:
            geo_knn_join(a, b, 1, left_id="id", algo="theta")


def test_joins_generalize_to_3d(spark):
    """The reference's Point is N-dimensional (Point.scala:28-29); every
    join program here is dimension-generic — pin that with a 3-D
    equivalence run (grid ≡ cross, theta/voronoi ≡ cross top-k)."""
    import random

    from simba_spark.operators.distance_join import distance_join
    from simba_spark.operators.knn_join import knn_join

    rng = random.Random(11)
    mk = lambda n, off: [
        (i, rng.uniform(0, 100) + off, rng.uniform(0, 100), rng.uniform(0, 100))
        for i in range(n)
    ]
    a = spark.createDataFrame(mk(120, 0.0), "id long, x double, y double, z double")
    b = spark.createDataFrame(mk(150, 2.0), "id long, x double, y double, z double")
    cols = ["x", "y", "z"]

    got = sorted(
        (r["a_id"], r["b_id"])
        for r in distance_join(a, b, cols, cols, 12.0, algo="grid",
                               left_prefix="a_", right_prefix="b_").collect()
    )
    want = sorted(
        (r["a_id"], r["b_id"])
        for r in distance_join(a, b, cols, cols, 12.0, algo="cross",
                               left_prefix="a_", right_prefix="b_").collect()
    )
    assert got == want and len(want) > 0

    ref = sorted(
        (r["l_id"], r["r_id"])
        for r in knn_join(a, b, cols, cols, 3, left_id="id", algo="cross",
                          right_tiebreak="id").collect()
    )
    for algo in ("theta", "voronoi"):
        got = sorted(
            (r["l_id"], r["r_id"])
            for r in knn_join(a, b, cols, cols, 3, left_id="id", algo=algo,
                              right_tiebreak="id").collect()
        )
        assert got == ref, algo


def test_interval_join_matches_bruteforce(spark):
    """Binned interval join ≡ cross-join + closed inequality filter —
    incl. boundary-touching points, zero-length intervals, and the
    auto-derived bin width."""
    import random

    from simba_spark.operators.interval import interval_join

    rng = random.Random(23)
    ivals = []
    for i in range(200):
        s = rng.uniform(0, 1000)
        ivals.append((i, s, s + rng.uniform(0, 30)))
    ivals.append((200, 500.0, 500.0))  # zero-length
    pts = [(j, rng.uniform(0, 1000)) for j in range(400)]
    pts.append((400, 500.0))  # exactly on the zero-length interval
    a = spark.createDataFrame(ivals, "id long, s double, e double")
    b = spark.createDataFrame(pts, "id long, p double")

    for bw in (None, 7.0, 1000.0):
        got = sorted(
            (r["a_id"], r["b_id"])
            for r in interval_join(a, b, "s", "e", "p", bin_width=bw).collect()
        )
        want = sorted(
            (i, j) for i, s, e in ivals for j, p in pts if s <= p <= e
        )
        assert got == want, bw
    assert (200, 400) in set(want)


def test_interval_join_heavy_tail_no_raise(spark):
    """A 10^6×-length-spread interval set must WORK with the default
    bin width (two-tier routing), not trip a bin-count guard — and stay
    exact (VERDICT r2 item 4)."""
    import random

    from simba_spark.operators.interval import interval_join, interval_overlap_join

    rng = random.Random(31)
    ivals = [(i, s := rng.uniform(0, 1000), s + rng.uniform(0.001, 0.01))
             for i in range(300)]
    ivals.append((300, 0.0, 5_000.0))      # one interval ~10^6× the others
    ivals.append((301, 400.0, 900.0))      # and a mid-tail one
    pts = [(j, rng.uniform(0, 1000)) for j in range(300)]
    a = spark.createDataFrame(ivals, "id long, s double, e double")
    b = spark.createDataFrame(pts, "id long, p double")
    got = sorted(
        (r["a_id"], r["b_id"])
        for r in interval_join(a, b, "s", "e", "p").collect()
    )
    want = sorted((i, j) for i, s, e in ivals for j, p in pts if s <= p <= e)
    assert got == want
    # overlap join, same distribution on both sides
    got2 = sorted(
        (r["a_id"], r["b_id"])
        for r in interval_overlap_join(a, a, "s", "e", "s", "e",
                                       right_prefix="b_").collect()
    )
    want2 = sorted(
        (i, j)
        for i, as_, ae in ivals
        for j, bs, be in ivals
        if as_ <= be and bs <= ae
    )
    assert got2 == want2


def test_interval_overlap_join_matches_bruteforce(spark):
    """Canonical-bin overlap join ≡ cross-join + closed overlap filter
    (touching endpoints, nested intervals, zero-length, auto bin width)."""
    import random

    from simba_spark.operators.interval import interval_overlap_join

    rng = random.Random(29)
    mk = lambda n, maxlen: [
        (i, s := rng.uniform(0, 500), s + rng.uniform(0, maxlen)) for i in range(n)
    ]
    av = mk(150, 40)
    bv = mk(180, 15)
    av.append((150, 100.0, 100.0))   # zero-length
    bv.append((180, 100.0, 100.0))   # touching pair
    a = spark.createDataFrame(av, "id long, s double, e double")
    b = spark.createDataFrame(bv, "id long, s double, e double")

    want = sorted(
        (i, j)
        for i, as_, ae in av
        for j, bs, be in bv
        if as_ <= be and bs <= ae
    )
    for bw in (None, 9.0, 2000.0):
        got = sorted(
            (r["a_id"], r["b_id"])
            for r in interval_overlap_join(
                a, b, "s", "e", "s", "e", bin_width=bw
            ).collect()
        )
        assert got == want, bw
    assert (150, 180) in set(want)


def test_interval_join_negative_coords_and_mixed_distributions(spark):
    """Two-tier binning with negative coordinates, exact-equal lengths,
    and a bimodal long/short mix — exactness must hold across the tier
    boundary in every case."""
    import random

    from simba_spark.operators.interval import interval_join, interval_overlap_join

    rng = random.Random(47)
    cases = []
    # negative domain
    cases.append([
        (i, s := rng.uniform(-1000, -10), s + rng.uniform(0.1, 5)) for i in range(150)
    ])
    # all identical lengths (bw2 == bw1 * 1: no long tier)
    cases.append([(i, s := rng.uniform(0, 100), s + 2.5) for i in range(150)])
    # bimodal: half very short, half 100x longer
    cases.append([
        (i, s := rng.uniform(0, 500), s + (0.05 if i % 2 else 5.0) * rng.uniform(1, 2))
        for i in range(150)
    ])
    for ci, ivals in enumerate(cases):
        pts = [(j, rng.uniform(-1100, 600)) for j in range(200)]
        a = spark.createDataFrame(ivals, "id long, s double, e double")
        b = spark.createDataFrame(pts, "id long, p double")
        got = sorted(
            (r["a_id"], r["b_id"])
            for r in interval_join(a, b, "s", "e", "p").collect()
        )
        want = sorted((i, j) for i, s, e in ivals for j, p in pts if s <= p <= e)
        assert got == want, f"interval_join case {ci}"
        got2 = sorted(
            (r["a_id"], r["b_id"])
            for r in interval_overlap_join(a, a, "s", "e", "s", "e",
                                           right_prefix="b_").collect()
        )
        want2 = sorted(
            (i, j)
            for i, as_, ae in ivals
            for j, bs, be in ivals
            if as_ <= be and bs <= ae
        )
        assert got2 == want2, f"interval_overlap case {ci}"


def test_knn_join_4d_exact_and_zknn(spark):
    """N-dim parity (ref: Point.scala:28-29): 4-D exact kNN join
    (bounded ≡ cross) and 4-D zknn with bits=15 (d*bits <= 63; the
    default bits=16 raises a clear guard for d=4)."""
    import random

    import pytest as _pytest

    from simba_spark.operators.knn_join import knn_join, zknn_join

    rng = random.Random(19)
    lrows = [
        (i, *[rng.uniform(0, 100) for _ in range(4)]) for i in range(60)
    ]
    rrows = [
        (j, *[rng.uniform(0, 100) for _ in range(4)]) for j in range(400)
    ]
    lschema = "lid long, p0 double, p1 double, p2 double, p3 double"
    rschema = "rid long, q0 double, q1 double, q2 double, q3 double"
    left = spark.createDataFrame(lrows, lschema)
    right = spark.createDataFrame(rrows, rschema)
    lcols = ["p0", "p1", "p2", "p3"]
    rcols = ["q0", "q1", "q2", "q3"]

    def pairs_of(df):
        return sorted((r.l_lid, r.r_rid) for r in df.collect())

    exact = pairs_of(
        knn_join(left, right, lcols, rcols, 5, left_id="lid",
                 algo="cross", right_tiebreak="rid")
    )
    bounded = pairs_of(
        knn_join(left, right, lcols, rcols, 5, left_id="lid",
                 algo="theta", right_tiebreak="rid")
    )
    assert bounded == exact and len(exact) == 60 * 5

    with _pytest.raises(AssertionError, match="bits<=15"):
        zknn_join(left, right, lcols, rcols, 5, left_id="lid",
                  right_tiebreak="rid")

    zp = pairs_of(
        zknn_join(left, right, lcols, rcols, 5, left_id="lid",
                  bits=15, shifts=2, right_tiebreak="rid")
    )
    # approximate: exactly k rows per left, deterministic, decent recall
    assert len(zp) == 60 * 5
    zp2 = pairs_of(
        zknn_join(left, right, lcols, rcols, 5, left_id="lid",
                  bits=15, shifts=2, right_tiebreak="rid")
    )
    assert zp == zp2
    recall = len(set(zp) & set(exact)) / len(exact)
    assert recall >= 0.5, recall


def test_knn_join_8d_routes_to_voronoi_and_is_exact(spark):
    """d >= 6 auto-route (round 5): the 'bounded' router must steer
    high-dimension joins to the dimension-agnostic Voronoi program (the
    grid program replicates ~2^d per cell) and stay EXACT — equal to
    the cross oracle with no bits/algo override. Ref parity: N-dim
    Point (Point.scala:28-29), VKJSpark as the high-d plan."""
    import random

    from simba_spark.operators.knn_join import knn_join

    rng = random.Random(23)
    d = 8
    lrows = [(i, *[rng.uniform(0, 100) for _ in range(d)]) for i in range(40)]
    rrows = [(j, *[rng.uniform(0, 100) for _ in range(d)]) for j in range(300)]
    lcols = [f"p{i}" for i in range(d)]
    rcols = [f"q{i}" for i in range(d)]
    left = spark.createDataFrame(
        lrows, "lid long, " + ", ".join(f"{c} double" for c in lcols)
    )
    right = spark.createDataFrame(
        rrows, "rid long, " + ", ".join(f"{c} double" for c in rcols)
    )

    def pairs_of(df):
        return sorted((r.l_lid, r.r_rid) for r in df.collect())

    exact = pairs_of(
        knn_join(left, right, lcols, rcols, 4, left_id="lid",
                 algo="cross", right_tiebreak="rid")
    )
    # default algo, no overrides: must route away from the grid AND
    # match the oracle exactly (force past the broadcast cost-route so
    # the dimension rule itself is exercised)
    routed = pairs_of(
        knn_join(left, right, lcols, rcols, 4, left_id="lid",
                 right_tiebreak="rid", broadcast_bytes=1.0)
    )
    assert routed == exact and len(exact) == 40 * 4
    # conf override raises the threshold -> θ path again (still exact)
    spark.conf.set("simba_spark.knnjoin.voronoi_min_dim", "9")
    try:
        theta = pairs_of(
            knn_join(left, right, lcols, rcols, 4, left_id="lid",
                     right_tiebreak="rid", broadcast_bytes=1.0)
        )
    finally:
        spark.conf.unset("simba_spark.knnjoin.voronoi_min_dim")
    assert theta == exact
