"""Distance join: all pairs (a, b) with dist(a.key, b.key) <= r (closed).

The reference ships five distance-join algorithms selected by conf
(ref: SimbaConf.scala:113, dispatch SimbaSessionState.scala:191-227):
CDJSpark (cartesian), BDJSpark/-R (block nested loop), RDJSpark and
DJSpark (grid / SJMR partitioned joins, ref: DJSpark.scala:36-118).
Semantics are identical across all five — only the physical plan differs
(SURVEY.md §2.3). Our engine keeps that shape: one semantic contract,
three DataFrame programs behind a router:

- ``grid``      (default; DJSpark/RDJSpark analog): assign each left row
  its grid cell, explode each right row to every cell its r-buffer
  touches, equi-join on cell id, refine with the exact distance
  predicate. The cell equi-join is a plain shuffle join ⇒ Catalyst/AQE
  handle partitioning, skew splitting, and map-side combine. Replication
  factor is (1 + 2r/cell)^d (cell defaults to 2r ⇒ 2^d).
- ``broadcast`` (CDJ/BDJ analog for a small side): broadcast-hash the
  smaller side and filter — zero shuffle.
- ``cross``     (CDJSpark parity fallback): cartesian + filter.

Scale notes (100 TB design point): the grid join shuffles each side once
on the cell key — the same two-shuffle budget as the reference's SJMR —
but needs no driver-side sampling job, no broadcast of duplication
lists, and no zipPartitions: Catalyst's shuffle-hash/sort-merge machinery
replaces all of it (ref comparison: DJSpark.scala:57-114). Skewed cells
are split by AQE (spark.sql.adaptive.skewJoin).
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import dist2_cols


def _session_algo(df: DataFrame, key: str, default: str) -> str:
    """Algorithm default from the Spark SESSION conf — the reference's
    conf-driven dispatch (simba.join.distanceJoin / simba.join.knnJoin,
    ref: SimbaSessionState.scala:191-227): users flip the physical plan
    with spark.conf.set(...) and no code change. An explicit ``algo=``
    argument (or a SimbaContext, which injects its own SimbaConf value)
    always wins over the session conf."""
    try:
        v = df.sparkSession.conf.get(key, None)
        if v is not None:
            return str(v)
    except Exception:
        pass
    return default


def _prefix_columns(df: DataFrame, prefix: str) -> DataFrame:
    """Disambiguate output columns: reference output is left.output ++
    right.output (ref: plans/SpatialJoin.scala:28-44); Spark needs unique
    names, so the caller can pass prefixes ('' keeps names)."""
    if not prefix:
        return df
    return df.select([F.col(c).alias(f"{prefix}{c}") for c in df.columns])


# ---------------------------------------------------------------------------
# planar grid keying — the one cell program behind every planar distance
# and shape join (the planar counterpart of geo._geo_keyed)


def _buffer_cell(r: float, cell_size: Optional[float] = None) -> float:
    """Cell width for point r-buffers: ``cell_size`` if given, else 2r
    (replication (1 + 2r/cell)^d = 2^d), else 1 for r = 0."""
    return float(cell_size) if cell_size else (2.0 * r if r > 0 else 1.0)


def _grid_keyed(df: DataFrame, lo, cell: Column, hi=None,
                cap: Optional[int] = None, who: str = "") -> DataFrame:
    """Attach the grid-cell join key ``__cell`` (``struct<c0..c{d-1}>``
    of ``floor(coord / cell)``). With ``hi=None``, ``lo`` is a point
    and keys to its ONE cell; otherwise the closed box ``[lo, hi]``
    (lists of Columns) explodes to every cell it covers, one
    ``sequence`` explode per dimension. ``cap`` guards the explode in
    plan: a box covering more than ``cap`` cells fails the query with
    ``who``'s message instead of blowing up the shuffle."""
    if hi is None:
        return df.withColumn("__cell", F.struct(*[
            F.floor(c / cell).cast("long").alias(f"c{i}") for i, c in enumerate(lo)
        ]))
    clo = [F.floor(c / cell).cast("long") for c in lo]
    chi = [F.floor(c / cell).cast("long") for c in hi]
    if cap is not None:
        n_cells = reduce(operator.mul, [b - a + 1 for a, b in zip(clo, chi)])
        chi[0] = F.when(n_cells <= int(cap), chi[0]).otherwise(F.raise_error(F.lit(
            f"{who} covers more than {cap} cells — pass a larger cell_size"
        )).cast("long"))
    d = len(clo)
    for i in range(d):
        df = df.withColumn(f"__c{i}", F.explode(F.sequence(clo[i], chi[i])))
    cell_key = F.struct(*[F.col(f"__c{i}").alias(f"c{i}") for i in range(d)])
    return df.withColumn("__cell", cell_key).drop(*[f"__c{i}" for i in range(d)])


def _grid_box_join(left: DataFrame, right: DataFrame, lbox, rbox,
                   cell_size: Optional[float], cap: int, op: str) -> DataFrame:
    """Candidate pairs of a box grid join: every (left, right) row pair
    whose closed boxes overlap, each pair exactly once, as left columns
    ++ right columns. The caller applies its exact refine.

    ``lbox`` is the left row's box as ``(lo, hi)`` Column lists (already
    expanded by the join radius); ``rbox`` is a ``(lo, hi)`` box too, or
    a point as ``(coords, None)``. The boxes are attached as plain
    columns first: higher-order functions are CodegenFallback, so
    everything evaluated per CANDIDATE must be codegen'd arithmetic.
    Left boxes explode to the cells they cover; a right point lives in
    ONE cell (unique emission); a right box explodes too, and a pair
    sharing several cells is kept only in its canonical cell — the
    cell of the lower corner of the two boxes' overlap (max of the
    mins per axis), which every overlapping pair provably shares. So
    the cell equi-join needs no dedup shuffle. ``cell_size=None``
    derives the width from the mean extent of the exploded boxes (a
    1-row broadcast aggregate, no driver job)."""
    helpers = ["__cell"]

    def attach(df, lo, hi, side):
        named = [(f"__{side}lo{i}", c) for i, c in enumerate(lo)]
        named += [(f"__{side}hi{i}", c) for i, c in enumerate(hi)]
        helpers.extend(n for n, _ in named)
        cols = [F.col(n) for n, _ in named]
        return df.select("*", *[c.alias(n) for n, c in named]), cols[:len(lo)], cols[len(lo):]

    left, alo, ahi = attach(left, *lbox, "a")
    blo, bhi = rbox
    point = bhi is None
    if not point:
        right, blo, bhi = attach(right, blo, bhi, "b")

    if cell_size is None:
        def extent(df, lo, hi):
            return df.select(F.greatest(*[h - l for l, h in zip(lo, hi)]).alias("__ext"))

        ext = extent(left, alo, ahi)
        if not point:
            ext = ext.unionByName(extent(right, blo, bhi))
        stats = F.broadcast(ext.agg(F.greatest(F.avg("__ext"), F.lit(1e-9)).alias("__cw")))
        # both sides read the width; after the join only right's copy
        # remains, for the canonical-cell test
        left, right = left.crossJoin(stats), right.crossJoin(stats)
        cw = F.col("__cw")
        helpers.append("__cw")
    else:
        cw = F.lit(float(cell_size))

    lg = _grid_keyed(left, alo, cw, hi=ahi, cap=cap, who=f"{op}: a left box")
    rg = _grid_keyed(right, blo, cw, hi=bhi, cap=cap, who=f"{op}: a right box")
    if cell_size is None:
        lg = lg.drop("__cw")
    # codegen'd pre-filter: the boxes overlap AND (box x box) this is
    # the pair's canonical cell
    keep = F.lit(True)
    for i, (al, ah, bl, bh) in enumerate(zip(alo, ahi, blo, bhi or blo)):
        keep = keep & (al <= bh) & (bl <= ah)
        if not point:
            canon = F.floor(F.greatest(al, bl) / cw).cast("long")
            keep = keep & (F.col("__cell")[f"c{i}"] == canon)
    return lg.join(rg, on="__cell", how="inner").filter(keep).drop(*helpers)


def distance_join(
    left: DataFrame,
    right: DataFrame,
    left_cols: Sequence[str],
    right_cols: Sequence[str],
    radius: float,
    algo: Optional[str] = None,
    cell_size: Optional[float] = None,
    left_prefix: str = "",
    right_prefix: str = "",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Inner theta-join on ``dist(left.key, right.key) <= radius``.

    Output = prefixed left columns ++ prefixed right columns, inner
    matches only (ref: SpatialJoin.scala:28-44 and the closed <= r bound,
    RTree.scala:143-162 / BDJSpark.scala:79).
    """
    r = float(radius)
    assert r >= 0.0
    assert len(left_cols) == len(right_cols), "dimension mismatch"
    if algo is None:
        algo = _session_algo(left, "simba_spark.join.distanceJoin", "grid")

    lp = _prefix_columns(left, left_prefix)
    rp = _prefix_columns(right, right_prefix)
    lcols = [f"{left_prefix}{c}" for c in left_cols]
    rcols = [f"{right_prefix}{c}" for c in right_cols]
    pred = dist2_cols(lcols, rcols) <= F.lit(r * r)

    if algo == "cross":
        return lp.crossJoin(rp).filter(pred)
    if algo == "broadcast":
        return lp.crossJoin(F.broadcast(rp)).filter(pred)
    if algo != "grid":
        raise ValueError(f"unknown distance-join algo: {algo}")

    # --- grid-cell equi-join (DJSpark analog) ---------------------------
    # left row -> its own cell (exactly once; pairs are emitted at most
    # once, so no dedup bookkeeping — the reference needed dup-id lists,
    # DJSpark.scala:62-79, because both sides were replicated); right
    # row -> every cell its closed r-buffer touches
    s = F.lit(_buffer_cell(r, cell_size))
    lg = _grid_keyed(lp, [F.col(c) for c in lcols], s)
    rg = _grid_keyed(
        rp, [F.col(c) - F.lit(r) for c in rcols], s,
        hi=[F.col(c) + F.lit(r) for c in rcols],
    )

    if num_partitions:
        # simba.join.partitions analog (ref: SimbaConf.scala:112): pin
        # the cell-join parallelism; both exchanges are co-partitioned so
        # the join reuses them instead of adding its own
        lg = lg.repartition(int(num_partitions), "__cell")
        rg = rg.repartition(int(num_partitions), "__cell")
    joined = lg.join(rg, on="__cell", how="inner").filter(pred).drop("__cell")
    return joined


def self_distance_join(
    df: DataFrame,
    cols: Sequence[str],
    radius: float,
    id_col: str,
    algo: str = "grid",
    **kw,
) -> DataFrame:
    """Self-join convenience: pairs (a, b) with id_a < id_b within radius —
    the building block of distance-based dedup (SURVEY §2.7)."""
    out = distance_join(
        df, df, cols, cols, radius,
        algo=algo, left_prefix="a_", right_prefix="b_", **kw,
    )
    return out.filter(F.col(f"a_{id_col}") < F.col(f"b_{id_col}"))
